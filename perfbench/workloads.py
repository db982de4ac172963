"""The three closed-loop workloads. Each is driven by one client thread:
an op starts only after the previous one finished.

- ``ingest``: one cycle = validated idempotent produce of a seeded batch,
  an ``availableNow`` ``stream_to_lake`` run that makes it readable in
  the lake, and a consumer-group fetch -> collect -> commit. A pass is
  ``INGEST_PASS_CYCLES`` cycles; its last cycle also compacts the lake
  table inline.
- ``analytics`` / ``operators``: one op = one registered query (build,
  execute, collect); a pass is one seed-ordered run over the workload's
  queries, started by unpersisting every persistent RDD so each pass pays
  each shared session build once.

Each op's outputs are checked outside its timed region.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

from tansu_spark.broker import Broker
from tansu_spark.lake import LakeSink, compact_table
from tansu_spark.queries import QUERIES
from tansu_spark.registry import SchemaRegistry
from tansu_spark.streaming import stream_to_lake

from perfbench import inputs
from perfbench.tracing import median

INGEST_BATCH = 2000
INGEST_PARTITIONS = 4
INGEST_PASS_CYCLES = 4
INGEST_WARM_CYCLES = 3
GROUP = "bench-consumer"
STREAM_TIMEOUT_S = 60


class Workload:
    def __init__(self, seed: int, work_dir: str, tracer) -> None:
        self.seed = seed
        self.work_dir = work_dir
        self.tracer = tracer
        self.spark = None
        self.ops = 0

    def reset(self) -> None:
        """Drop what the previous set-up left behind (not timed)."""

    def setup(self, spark) -> None:
        """Everything the program needs before the first op (timed)."""
        self.spark = spark

    def use_tracer(self, tracer) -> None:
        self.tracer = tracer

    def prepare(self) -> None:
        """Benchmark-side preparation outside any timer."""

    def run_pass(self) -> tuple[float, list[dict]]:
        """One pass: (seconds, per-op records). Raises nothing for an op
        that fails; its record carries ``error``."""
        raise NotImplementedError

    def warm_up(self) -> list[dict]:
        """Untimed ops that let the JVM's code caches fill."""
        return self.run_pass()[1]

    def final_checks(self) -> list[str]:
        return []

    def details(self, ops: list[dict]) -> dict:
        """Workload-specific figures of the measured ops, reported beside
        the end-to-end metrics."""
        return {}

    def traced_stores(self) -> list[int]:
        return []

    def disk_facts(self) -> dict:
        return {}

    def _next_op(self) -> int:
        self.ops += 1
        return self.ops

    @contextlib.contextmanager
    def _job_group(self, op: int, description: str):
        """Tag the Spark jobs this thread starts for op ``op`` (traced
        runs only)."""
        sc = self.spark.sparkContext
        if self.tracer.enabled:
            sc.setJobGroup(f"op{op}", description)
        try:
            yield
        finally:
            if self.tracer.enabled:
                sc._jsc.clearJobGroup()


class CountingSink(LakeSink):
    """LakeSink that records the rows each store appended. Stores run on
    the streaming query's thread, so their span's parent is set by the
    caller that started the query."""

    def __init__(self, broker, lake_root: str, tracer) -> None:
        super().__init__(broker, lake_root)
        self.tracer = tracer
        self.parent_span: int | None = None
        self.stores: list[int] = []

    def store(self, topic: str) -> int:
        with self.tracer.span("lake.store", parent=self.parent_span):
            n = super().store(topic)
        self.stores.append(n)
        return n


class Ingest(Workload):
    def reset(self) -> None:
        shutil.rmtree(self.work_dir, ignore_errors=True)

    def setup(self, spark) -> None:
        super().setup(spark)
        self.store_root = os.path.join(self.work_dir, "store")
        self.lake_root = os.path.join(self.work_dir, "lake")
        self.checkpoint = os.path.join(self.work_dir, "sink-checkpoint")
        registry = SchemaRegistry(inputs.SCHEMA_DIR)
        self.broker = Broker(spark, self.store_root, registry=registry)
        self.broker.create_topic(
            inputs.TOPIC,
            partitions=INGEST_PARTITIONS,
            config={
                "tansu.lake.partition": "value.region",
                "tansu.lake.generate.amount_band": "cast(floor(value.amount / 100) as int)",
            },
        )
        self.sink = CountingSink(self.broker, self.lake_root, self.tracer)
        self.producer_id, self.epoch = self.broker.init_producer_id()
        self.cycle = 0
        self.produced = self.consumed = 0
        self.produced_sum = self.consumed_sum = 0
        self.user_bytes = 0
        self._batch = inputs.ingest_batch(self.seed, 0, INGEST_BATCH)

    def use_tracer(self, tracer) -> None:
        super().use_tracer(tracer)
        self.sink.tracer = tracer
        self._traced_from = len(self.sink.stores)

    def traced_stores(self) -> list[int]:
        """Rows appended by each store since tracing was turned on."""
        return self.sink.stores[self._traced_from:]

    def _cycle(self) -> dict:
        tr, broker, topic = self.tracer, self.broker, inputs.TOPIC
        i, rows = self.cycle, self._batch
        # Cycle 1 compacts, so the warm-up covers compaction too.
        compact = i % INGEST_PASS_CYCLES == 1
        op = self._next_op()
        rec: dict = {"op": op, "cycle": i}
        with self._job_group(op, f"cycle {i}"), tr.span("op.cycle", op=op):
            t0 = time.perf_counter()
            with tr.span("broker.produce", op=op):
                base = broker.produce_rows(
                    topic, rows, producer_id=self.producer_id,
                    producer_epoch=self.epoch, base_sequence=i,
                )
            t1 = time.perf_counter()
            with tr.span("streaming.sink_run", op=op):
                self.sink.parent_span = tr.current()
                n_stores = len(self.sink.stores)
                q = stream_to_lake(broker, self.sink, topic, checkpoint=self.checkpoint)
                q.awaitTermination(STREAM_TIMEOUT_S)
                failure = q.exception()
                if q.isActive:
                    q.stop()
            t2 = time.perf_counter()
            if compact:
                with tr.span("lake.compact", op=op):
                    compact_table(self.spark, self.sink.table_dir(topic))
            t3 = time.perf_counter()
            with tr.span("broker.fetch_offsets", op=op):
                committed = broker.fetch_offsets(GROUP, topic)
            with tr.span("broker.fetch", op=op):
                parts = [
                    broker.fetch(topic, partition=p, offset=committed.get(p, 0))
                    for p in range(INGEST_PARTITIONS)
                ]
                df = parts[0]
                for other in parts[1:]:
                    df = df.unionByName(other)
                got = df.select("partition", "offset", "key", "value").collect()
            next_offsets = dict(committed)
            for r in got:
                next_offsets[r["partition"]] = max(
                    next_offsets.get(r["partition"], 0), r["offset"] + 1
                )
            with tr.span("broker.commit_offsets", op=op):
                broker.commit_offsets(
                    GROUP, {(topic, p): o for p, o in next_offsets.items()}
                )
            t4 = time.perf_counter()
        rec.update(ms=(t4 - t0) * 1e3, produce_ms=(t1 - t0) * 1e3,
                   lake_lag_ms=(t2 - t0) * 1e3, fetch_ms=(t4 - t3) * 1e3,
                   compact_ms=(t3 - t2) * 1e3, records=len(rows))
        # Checks, outside the timed region.
        self.cycle += 1
        self._batch = inputs.ingest_batch(self.seed, self.cycle, INGEST_BATCH)
        errors = []
        if not base:
            errors.append(f"cycle {i}: produce rejected the batch as a duplicate")
        else:
            self.produced += len(rows)
            for r in rows:
                self.produced_sum += inputs.record_digest(r["key"], r["value"])
                self.user_bytes += len(r["key"]) + len(r["value"])
        if failure is not None:
            errors.append(f"cycle {i}: sink run failed: {failure}")
        stored = sum(self.sink.stores[n_stores:])
        if stored != len(rows):
            errors.append(f"cycle {i}: sink run stored {stored} rows, produced {len(rows)}")
        if len(got) != len(rows):
            errors.append(f"cycle {i}: consumer fetched {len(got)} records, produced {len(rows)}")
        self.consumed += len(got)
        for r in got:
            self.consumed_sum += inputs.record_digest(bytes(r["key"]), bytes(r["value"]))
        if errors:
            rec["error"] = "; ".join(errors)
        return rec

    def _cycles(self, n: int) -> list[dict]:
        recs = []
        for _ in range(n):
            try:
                recs.append(self._cycle())
            except Exception as e:  # a raised call is a failed op
                self.cycle += 1
                self._batch = inputs.ingest_batch(self.seed, self.cycle, INGEST_BATCH)
                recs.append({"op": self.ops, "cycle": self.cycle - 1, "error": repr(e)})
        return recs

    def run_pass(self) -> tuple[float, list[dict]]:
        recs = self._cycles(INGEST_PASS_CYCLES)
        return sum(r.get("ms", 0.0) for r in recs) / 1e3, recs

    def warm_up(self) -> list[dict]:
        # The first sink run pays the streaming engine's start-up; later
        # cycles settle by the third.
        return self._cycles(INGEST_WARM_CYCLES)

    def final_checks(self) -> list[str]:
        topic = inputs.TOPIC
        errors = []
        lake_rows = self.sink.read(topic).count()
        marks = sum(self.broker.list_offsets(topic, "latest").values())
        if not (lake_rows == self.produced == marks):
            errors.append(
                f"lake rows {lake_rows}, produced {self.produced}, watermark sum {marks}"
            )
        if (self.consumed, self.consumed_sum) != (self.produced, self.produced_sum):
            errors.append(
                f"consumer saw {self.consumed} records (checksum {self.consumed_sum:x}), "
                f"produced {self.produced} (checksum {self.produced_sum:x})"
            )
        return errors

    def details(self, ops: list[dict]) -> dict:
        ok = [r for r in ops if "ms" in r]
        secs = sum(r["ms"] for r in ok) / 1e3
        return {
            "produce_p50_ms": median([r["produce_ms"] for r in ok]),
            "lake_lag_p50_ms": median([r["lake_lag_ms"] for r in ok]),
            "fetch_p50_ms": median([r["fetch_ms"] for r in ok]),
            "records_per_s": sum(r["records"] for r in ok) / secs if secs else 0.0,
        }

    def disk_facts(self) -> dict:
        seg_dir = os.path.join(self.store_root, "topics", inputs.TOPIC, "data")
        seg_files, seg_bytes = _parquet_files(seg_dir)
        _, lake_bytes = _parquet_files(self.sink.table_dir(inputs.TOPIC))
        ub = max(self.user_bytes, 1)
        return {"segment_files": seg_files, "segment_bytes_per_user_byte": seg_bytes / ub,
                "lake_bytes_per_user_byte": lake_bytes / ub}


def _parquet_files(root: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class QueryPass(Workload):
    """A seed-ordered pass over registered queries, each checked against
    its DuckDB oracle answer."""

    queries: tuple[str, ...] = ()

    def __init__(self, seed: int, work_dir: str, tracer, sf_dir: str) -> None:
        super().__init__(seed, work_dir, tracer)
        self.sf_dir = sf_dir
        self.order = inputs.query_order(seed, self.queries)

    def prepare(self) -> None:
        self.oracle = inputs.oracle_answers(self.sf_dir, self.order)

    def release(self) -> None:
        spark = self.spark
        spark.catalog.clearCache()
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    def run_pass(self) -> tuple[float, list[dict]]:
        tr, spark = self.tracer, self.spark
        t_pass = time.perf_counter()
        with tr.span("materialize.release"):
            self.release()
        secs = time.perf_counter() - t_pass
        recs = []
        for name in self.order:
            op = self._next_op()
            rec = {"op": op, "query": name}
            try:
                with self._job_group(op, name), tr.span("op.query", op=op, query=name):
                    t0 = time.perf_counter()
                    with tr.span("queries.build", op=op):
                        df = QUERIES[name](spark, self.sf_dir)
                    t1 = time.perf_counter()
                    with tr.span("queries.collect", op=op):
                        rows = df.collect()
                    t2 = time.perf_counter()
                rec.update(ms=(t2 - t0) * 1e3, build_s=t1 - t0, collect_s=t2 - t1)
                secs += t2 - t0
                if inputs.canonical(df.columns, rows) != self.oracle[name]:
                    rec["error"] = f"{name}: result differs from its ORACLE answer"
            except Exception as e:  # a raised call is a failed op
                rec["error"] = f"{name}: {e!r}"
            recs.append(rec)
        return secs, recs


class Analytics(QueryPass):
    queries = inputs.ANALYTICS_QUERIES


class Operators(QueryPass):
    queries = inputs.OPERATOR_QUERIES
