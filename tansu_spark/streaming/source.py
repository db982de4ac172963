"""Structured Streaming front-end: topics as live sources/sinks.

Reference parity (SURVEY §2.9):
- a topic is consumable as a stream (the Fetch long-poll loop, T6) →
  `readStream` file source over the topic's immutable segments;
  `maxFilesPerTrigger` is the rate limit (T9, governor delta.rs:487-508)
- streaming produce lands through the same idempotent produce path, with
  the micro-batch id as the producer sequence → replayed batches dedupe,
  giving exactly-once (T3: producer_id/epoch/sequence, pg.rs:257-338)
- event-time windows/watermarks/sessionization (T7) are EXTENSIONS: the
  reference has no event-time operators at all; Spark gives them to us.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tansu_spark.broker.broker import RECORD_SCHEMA, Broker
from tansu_spark.streaming.runner import start_foreach_batch


def topic_stream(
    broker: Broker, topic: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """A topic as a streaming DataFrame (new segments appear as produced).
    Records carry the full envelope; apply broker.registry.decode for the
    typed view."""
    broker.describe_topic(topic)
    reader = broker.spark.readStream.schema(RECORD_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(broker._data_dir(topic))


def stream_to_topic(
    broker: Broker,
    topic: str,
    stream: DataFrame,
    checkpoint: str,
    producer_id: int = 0,
    trigger: dict | None = None,
):
    """writeStream → topic with exactly-once semantics: each micro-batch is
    produced with base_sequence = batch_id, so a replayed batch (restart
    between produce and checkpoint commit) is dropped by the idempotence
    fence. Returns the StreamingQuery."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        broker.produce(
            topic, batch, producer_id=producer_id, base_sequence=batch_id
        )

    return start_foreach_batch(stream, sink, checkpoint, trigger)


def stream_to_lake(broker: Broker, sink, topic: str, checkpoint: str, trigger=None):
    """Continuous lake materialization: every micro-batch of new segments
    triggers an incremental LakeSink.store (the reference sinks per
    produced batch, pg.rs:987)."""
    stream = topic_stream(broker, topic)

    def step(_batch: DataFrame, _batch_id: int) -> None:
        sink.store(topic)

    return start_foreach_batch(stream, step, checkpoint, trigger)


# ------------------------------------------------------- event-time extensions


def windowed_counts(
    records: DataFrame,
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "2 minutes",
    keys: list[str] | None = None,
) -> DataFrame:
    """Event-time windowed aggregation with late-data watermarking —
    works on both the streaming and batch form of a topic DataFrame."""
    df = records.withWatermark("timestamp", watermark) if records.isStreaming else records
    win = F.window("timestamp", window, slide) if slide else F.window("timestamp", window)
    group = [win] + [F.col(k) for k in (keys or [])]
    return df.groupBy(*group).agg(F.count(F.lit(1)).alias("n_records"))


def dedup_stream(
    records: DataFrame,
    key_cols: list[str] | None = None,
    watermark: str = "10 minutes",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Streaming exact deduplication on content keys.

    Streaming form uses dropDuplicatesWithinWatermark: duplicate arrivals
    within the watermark horizon are dropped and state is EVICTED once
    the watermark passes — bounded memory, unlike dropDuplicates whose
    key state grows with the whole stream (a non-starter on an unbounded
    topic). The trade is the standard one: a duplicate arriving later
    than the watermark is kept, which is exactly the late-data contract
    every other watermark'd operator has. Batch twin: dropDuplicates on
    the same keys (tests cross-check the two paths)."""
    keys = list(key_cols or ["value"])
    if records.isStreaming:
        return records.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            keys
        )
    return records.dropDuplicates(keys)


_SESSION_SCHEMA = (
    "key string, session_start timestamp, session_end timestamp, n_events long"
)


def sessionize(
    records: DataFrame,
    gap_seconds: int = 300,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Gap-based sessionization.

    Streaming: applyInPandasWithState custom stateful operator (timeout-
    driven session close). Batch: the classic window trick — a session id
    is the running count of gap-breaks per key — same output schema, used
    by tests to cross-check the stateful path.
    """
    if not records.isStreaming:
        from pyspark.sql import Window

        w = Window.partitionBy("key").orderBy("timestamp")
        gap_break = (
            F.col("timestamp").cast("long")
            - F.lag(F.col("timestamp").cast("long"), 1, 0).over(w)
            > gap_seconds
        ).cast("long")
        return (
            records.select(F.col("key").cast("string").alias("key"), "timestamp")
            .withColumn("_brk", gap_break)
            .withColumn("_sid", F.sum("_brk").over(w))
            .groupBy("key", "_sid")
            .agg(
                F.min("timestamp").alias("session_start"),
                F.max("timestamp").alias("session_end"),
                F.count(F.lit(1)).alias("n_events"),
            )
            .drop("_sid")
            .select("key", "session_start", "session_end", "n_events")
        )

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        (k,) = key
        rows = pd.concat(list(pdfs))
        ts = pd.to_datetime(rows["timestamp"]).sort_values()
        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "key": [k],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(end, unit="us")],
                    "n_events": [n],
                }
            )
            return
        closed = []
        if state.exists:
            start, end, n = state.get
        else:
            start = end = int(ts.iloc[0].value // 1000)
            n = 0
        for t in ts:
            t_us = int(t.value // 1000)
            if n and t_us - end > gap_seconds * 1_000_000:
                closed.append((start, end, n))
                start, n = t_us, 0
            end = t_us
            n += 1
        state.update((start, end, n))
        state.setTimeoutDuration(gap_seconds * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "key": [k] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                    "n_events": [c for _, _, c in closed],
                }
            )

    return (
        records.select(F.col("key").cast("string").alias("key"), "timestamp")
        .withWatermark("timestamp", watermark)
        .groupBy("key")
        .applyInPandasWithState(
            update,
            outputStructType=_SESSION_SCHEMA,
            stateStructType="start long, end long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def materialize_topic(
    broker: Broker,
    topic: str,
    table,
    checkpoint: str,
    trigger: dict | None = None,
):
    """Continuously MERGE a keyed topic into a lake table — the streaming
    form of log compaction (reference cleanup.policy=compact,
    pg.rs greatest-per-key semantics): each record upserts its key, a
    null-value record is a tombstone DELETE, and the table converges to
    exactly `compact(topic)` with tombstones dropped.

    Per-key ordering rides Kafka's contract: a key lives in one
    partition, so (offset, partition) — compared as a struct — totally
    orders its changes; the micro-batch merge keeps only the latest
    change per key, so a batch spanning many updates of one key writes
    once. `table` must be a MergeTable keyed on ["key"] with columns
    (key string, value string). Exactly-once via the merge batch fence.
    """
    from pyspark.sql import DataFrame

    from tansu_spark.lake.merge import DELETE, UPSERT

    stream = topic_stream(broker, topic)

    def to_changes(batch: DataFrame) -> DataFrame:
        return batch.where(F.col("control") == 0).select(
            F.col("key").cast("string").alias("key"),
            F.col("value").cast("string").alias("value"),
            F.when(F.col("value").isNull(), F.lit(DELETE))
            .otherwise(F.lit(UPSERT))
            .alias("_op"),
            F.struct("offset", "partition").alias("_seq"),
        )

    return table.stream_from(
        stream, checkpoint, transform=to_changes, seq_col="_seq", trigger=trigger
    )


_TOTALS_SCHEMA = "key string, n_records long, value_bytes long"


def running_totals(records: DataFrame) -> DataFrame:
    """Per-key running totals (record count + value bytes) as a live
    changelog — the compacted-counter view of a topic, maintained with
    Spark 4's transformWithState arbitrary-state API (ValueState in the
    RocksDB state store; update-mode emission per micro-batch).

    This is the modern replacement for applyInPandasWithState (which
    sessionize() still demonstrates): typed named state handles, TTL,
    and timers, with state kept off-heap in RocksDB — the configuration
    that scales to billions of keys per executor. Batch twin: a plain
    groupBy, used by tests to cross-check the stateful path.

    Integer-only accumulators, so stream and batch agree exactly
    regardless of merge order."""
    projected = (
        records.select(
            F.col("key").cast("string").alias("key"),
            F.coalesce(F.length(F.col("value")), F.lit(0)).cast("long").alias("vb"),
        )
    )
    if not records.isStreaming:
        return projected.groupBy("key").agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum("vb").cast("long").alias("value_bytes"),
        )

    # transformWithState's Python<->JVM state server speaks protobuf; the
    # pyspark side imports google.protobuf at runtime. Gate on it so the
    # operator fails with a clear message in environments without the
    # package (this container) instead of a crashed driver worker.
    try:
        from google.protobuf import descriptor as _descriptor  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "running_totals streaming path needs transformWithStateInPandas, "
            "whose state protocol requires the python 'protobuf' package — "
            "not installed here. The batch twin (same semantics over "
            "broker.records(topic)) is fully supported."
        ) from exc

    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    # transformWithState only runs on the RocksDB state store; the provider
    # binds per-query at start, so setting it here never disturbs already-
    # running queries.
    spark = records.sparkSession
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    class Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState("totals", "n LONG, vb LONG")

        def handleInputRows(self, key, rows, timer_values):
            cur = self._st.get()
            n, vb = (int(cur[0]), int(cur[1])) if cur is not None else (0, 0)
            for pdf in rows:
                n += len(pdf)
                vb += int(pdf["vb"].sum())
            self._st.update((n, vb))
            yield pd.DataFrame(
                {"key": [key[0]], "n_records": [n], "value_bytes": [vb]}
            )

        def close(self) -> None:
            pass

    return projected.groupBy("key").transformWithStateInPandas(
        statefulProcessor=Totals(),
        outputStructType=_TOTALS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def enrich_stream(
    records: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment: join a (streaming or batch) topic
    DataFrame against a slowly-changing dimension table — the broker-side
    equivalent of the reference's config-lookup joins (SURVEY §2.4 J5).

    Refresh semantics, honestly: Spark re-reads the static side's DATA
    per micro-batch, but a plain-parquet DataFrame pins its FILE LISTING
    at analysis time — an overwrite that replaces files fails the next
    batch with FILE_NOT_EXIST. A refreshed dimension is picked up by
    (a) re-creating the dim DataFrame / restarting the query (checkpoint
    resumes exactly where it left off — the cheap, safe path this
    engine's availableNow runs use), or (b) pointing `dim` at a
    transactional table (Delta/Iceberg) whose snapshot listing is
    re-resolved per batch. The dimension should be broadcast-sized or
    bucketed; the stream side stays shuffle-free either way."""
    return records.join(dim, on, how)


_EWMA_SCHEMA = "key string, n_events long, ewma double, max_deviation double"


def ewma_by_key(records: DataFrame, alpha: float = 0.25) -> DataFrame:
    """EWMA + max one-step deviation per key — the STREAMING
    instantiation of events_ewma_anomaly's composition law: the state
    row carries exactly (e, m, n) and each micro-batch is a chunk
    folded SEEDED by the carried e (the two-stage decomposition's
    stage C with micro-batches as the chunks; the pytest-pinned
    equality two_stage == one_stage is precisely why the stream
    converges to the batch fold whenever chunks arrive per-key
    time-ordered — which Kafka's per-key partition order guarantees).

    Input: the record envelope (key/value/timestamp/offset); the value
    bytes parse as the numeric. Streaming path:
    applyInPandasWithState, one 3-scalar state row per key, update
    output mode (each batch re-emits the keys it touched). Batch twin
    (same semantics, used by tests to cross-check): the ordered
    aggregate fold.

    Scale: state is three scalars per key — millions of keys per
    executor in the RocksDB store; each batch's work is proportional to
    the batch."""
    projected = records.select(
        F.col("key").cast("string").alias("key"),
        F.col("timestamp").cast("timestamp").alias("timestamp"),
        F.col("offset").cast("long").alias("offset"),
        # try_cast: malformed numerics become null (then filtered) instead
        # of failing the job under ANSI mode — dirty input is data, not
        # a query error, on both the batch and streaming paths.
        F.col("value").cast("string").try_cast("double").alias("x"),
    )
    if not records.isStreaming:
        # same value hygiene as the streaming fold below (`v is not None
        # and v == v`): non-numeric values join neither the fold nor
        # n_events, so stream == batch holds on dirty input too.
        projected = projected.filter(F.col("x").isNotNull() & ~F.isnan("x"))
        seq = projected.groupBy("key").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(timestamp, offset, x))),"
                " s -> s.x)"
            ).alias("v"),
            F.count(F.lit(1)).alias("n_events"),
        )
        folded = seq.withColumn(
            "acc",
            F.expr(
                f"""
                aggregate(slice(v, 2, size(v) - 1),
                  struct(cast(element_at(v, 1) as double) as e,
                         cast(0.0 as double) as m),
                  (a, b) -> struct(a.e + {alpha} * (b - a.e) as e,
                                   greatest(a.m, abs(b - a.e)) as m))
                """
            ),
        )
        return folded.select(
            "key",
            "n_events",
            F.col("acc.e").alias("ewma"),
            F.col("acc.m").alias("max_deviation"),
        )

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        (k,) = key
        rows = pd.concat(list(pdfs))
        if rows.empty:
            return
        rows = rows.sort_values(["timestamp", "offset"])
        xs = [float(v) for v in rows["x"] if v is not None and v == v]
        if not xs:
            return
        if state.exists:
            e, m, n = state.get
            it = xs
        else:
            e, m, n = float(xs[0]), 0.0, 1
            it = xs[1:]
        for x in it:
            m = max(m, abs(x - e))
            e = e + alpha * (x - e)
            n += 1
        state.update((e, m, n))
        yield pd.DataFrame(
            {
                "key": [k],
                "n_events": [n],
                "ewma": [e],
                "max_deviation": [m],
            }
        )

    return projected.groupBy("key").applyInPandasWithState(
        update,
        outputStructType=_EWMA_SCHEMA,
        stateStructType="e double, m double, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_HLL_SCHEMA = (
    "key string, n_seen long, regs_hit long, raw_estimate double, "
    "est_distinct double"
)


def hll_by_key(records: DataFrame) -> DataFrame:
    """Streaming HyperLogLog maintenance per key — the stateful-sketch
    operator (functions/sketch.py::hll_distinct's streaming twin): state
    is the m=256 register array; each micro-batch folds its values'
    md5-Horner hashes in by register-max. Because max-merge is fully
    COMMUTATIVE and idempotent, the stream needs no ordering guarantee
    at all (unlike the EWMA fold) — the final state equals the batch
    sketch under any partitioning, batch split, or arrival order, which
    is exactly why production pipelines keep sketches, not raw sets, as
    streaming state.

    Input: (key string, v string) — v is the value whose distinct count
    is tracked. Update-mode emission: each batch re-emits the keys it
    touched with the CURRENT estimate and a strictly-increasing n_seen
    (the memory-sink dedup key). State: 256 ints per key.

    Scale: per-batch work is the batch's rows (one md5 each); state is
    m ints per key regardless of cardinality — the whole point of HLL."""
    import hashlib

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from tansu_spark.functions.sketch import HLL_ALPHA, HLL_M

    def update(key, pdfs, state: GroupState):
        (k,) = key
        if state.exists:
            (regs_packed, n_seen) = state.get
            regs = list(regs_packed)
        else:
            regs, n_seen = [0] * HLL_M, 0
        for pdf in pdfs:
            for v in pdf["v"]:
                if v is None:
                    continue
                h = int(hashlib.md5(str(v).encode()).hexdigest()[:10], 16)
                reg, sfx = h >> 32, h & 0xFFFFFFFF
                rank = 33 if sfx == 0 else (32 - sfx.bit_length() + 1)
                if rank > regs[reg]:
                    regs[reg] = rank
                n_seen += 1
        if n_seen == 0:
            return
        state.update((regs, n_seen))
        hits = sum(1 for r in regs if r > 0)
        # identical IEEE sequence to the batch/oracle formulas: the
        # harmonic sum is exact (single-bit powers of two), alpha*m*m is
        # one multiply, ln only in the small-range branch (round 6)
        s = float(HLL_M - hits) + sum(2.0 ** -r for r in regs if r > 0)
        raw = HLL_ALPHA * float(HLL_M * HLL_M) / s
        zeros = HLL_M - hits
        if raw <= 2.5 * HLL_M and zeros > 0:
            import math

            est = float(HLL_M) * math.log(float(HLL_M) / zeros)
        else:
            est = raw
        yield pd.DataFrame(
            {
                "key": [k],
                "n_seen": [n_seen],
                "regs_hit": [hits],
                "raw_estimate": [round(raw, 6)],
                "est_distinct": [round(est, 6)],
            }
        )

    projected = records.select(
        F.col("key").cast("string").alias("key"), F.col("v").cast("string").alias("v")
    )
    return projected.groupBy("key").applyInPandasWithState(
        update,
        outputStructType=_HLL_SCHEMA,
        stateStructType="regs array<int>, n_seen long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def kmv_by_key(records: DataFrame, k: int = 64) -> DataFrame:
    """Streaming K-MINIMUM-VALUES sketch maintenance per key — the third
    streaming merge law next to hll_by_key (register MAX) and
    cms_by_depth (count ADD): per-key state is the k smallest DISTINCT
    md5-Horner hash values seen so far, merged by union -> dedup ->
    keep-k-smallest. Min-k over a set is COMMUTATIVE, ASSOCIATIVE and
    IDEMPOTENT, so the final state equals functions/sketch.py::
    kmv_sketch on the same data under any micro-batch split or arrival
    order; a value discarded (larger than the current k-th) can never
    re-enter the true k-minimum of a growing set, which is exactly the
    KMV mergeability argument.

    Input: (key string, v string). Update-mode emission: (key, n_seen,
    n_hashes, uk) — n_hashes the kept-set size (exact distinct when
    < k), uk the current k-th minimum (valid when n_hashes == k), and
    n_seen the strictly-increasing memory-sink dedup counter. The
    ESTIMATE is deliberately computed post-stream in Spark SQL
    (functions/sketch.py::_estimate) so the (k-1)*H_SPACE/uk rounding is
    the identical JVM HALF_UP everywhere — Python round() is half-even.

    Scale: state is <= k longs per key; per-batch work is one md5 per
    row plus an O(k log k) local sort of the touched keys' states."""
    import hashlib

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from tansu_spark.functions.sketch import N_HEX

    def update(key, pdfs, state: GroupState):
        (kk,) = key
        if state.exists:
            (vals_t, n_seen) = state.get
            vals = set(vals_t)
        else:
            vals, n_seen = set(), 0
        n0 = n_seen
        for pdf in pdfs:
            for v in pdf["v"]:
                if v is None:
                    continue
                vals.add(
                    int(hashlib.md5(str(v).encode()).hexdigest()[:N_HEX], 16)
                )
                n_seen += 1
        if n_seen == n0 and not state.exists:
            return
        kept = sorted(vals)[:k]
        state.update((kept, n_seen))
        yield pd.DataFrame(
            {
                "key": [kk],
                "n_seen": [n_seen],
                "n_hashes": [len(kept)],
                "uk": [kept[-1] if len(kept) == k else None],
            }
        )

    projected = records.select(
        F.col("key").cast("string").alias("key"),
        F.col("v").cast("string").alias("v"),
    )
    return projected.groupBy("key").applyInPandasWithState(
        update,
        outputStructType="key string, n_seen long, n_hashes long, uk long",
        stateStructType="vals array<long>, n_seen long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cms_by_depth(records: DataFrame, width: int = 256) -> DataFrame:
    """Streaming Count-Min sketch maintenance — the CMS twin of
    `hll_by_key`: the input is the pre-hashed (r, col) bucket stream
    (one row per depth per record, computed JVM-side before the
    stateful op), grouped by DEPTH ROW r; each group's state is its
    width-long cell array, and micro-batches fold in by per-col count
    ADDITION — commutative, so the final cells equal the batch
    `functions/sketch.py::cms_cells` under any batch split or arrival
    order. Update-mode emission with strictly-increasing n_seen as the
    sink dedup key.

    Scale: depth tasks hold width longs of state each; per-batch work is
    the batch's rows. (Partitioning by depth row caps parallelism at
    `depth` for the state op itself — the hash projection upstream is
    map-parallel; production CMS state at higher parallelism shards the
    col space per task and unions, the same additive merge.)"""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        (r,) = key
        if state.exists:
            (cells_t, n_seen) = state.get
            cells = list(cells_t)
        else:
            cells, n_seen = [0] * width, 0
        for pdf in pdfs:
            for col in pdf["col"]:
                cells[int(col)] += 1
                n_seen += 1
        if n_seen == 0:
            return
        state.update((cells, n_seen))
        yield pd.DataFrame(
            {"r": [int(r)], "n_seen": [n_seen], "cells": [cells]}
        )

    return records.groupBy("r").applyInPandasWithState(
        update,
        outputStructType="r int, n_seen long, cells array<long>",
        stateStructType="cells array<long>, n_seen long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
