"""Lake + topic maintenance: small-file compaction, Z-order clustering,
retention deletes, vacuum — the reference's 10-minute sweep
(broker.rs:242-258; Storage::maintain lib.rs:1519; lake maintain()
delta.rs:722-741) as explicit jobs.

Every operation works per hive-partition directory: partitions are
maintained independently (parallelizable across a cluster, restartable,
and never a global shuffle). Rewrites are atomic per partition: new files
land under a temp name, then the old generation is swapped out.
"""

from __future__ import annotations

import math
import os
import shutil
import time
import uuid
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tansu_spark.lake.stats import collect_stats, live_files, load_stats


def _partition_dirs(table_dir: str) -> dict[str, list[str]]:
    """{partition directory: its live parquet files (absolute)}, by the
    file index's listing rule."""
    out: dict[str, list[str]] = {}
    for rel in live_files(table_dir):
        path = os.path.join(table_dir, rel)
        out.setdefault(os.path.dirname(path), []).append(path)
    return out


def _rewrite_dir(
    spark: SparkSession, d: str, old: list[str], transform, n_files: int,
    table_root: str | None = None,
) -> int:
    """Atomically replace the partition directory `d`'s files `old` with
    their transformed, re-bucketed contents; returns the files written.
    When `table_root` points at a table with a snapshot manifest, replaced
    files move to its `_history/` batch (older versions stay readable)
    instead of being deleted."""
    from tansu_spark.lake import snapshots as snap

    df = spark.read.parquet(*old)
    out = transform(df) if transform else df
    if table_root is not None:
        # Re-attach the table's persisted Iceberg field ids: Spark's
        # parquet READ schema drops PARQUET:field_id metadata, so a
        # rewrite would silently strip the footer ids the sink wrote
        # (lake/field_ids.py — the Iceberg id-stability invariant).
        from tansu_spark.broker.state import read_json
        from tansu_spark.lake.field_ids import apply_field_ids

        ids = read_json(os.path.join(table_root, "_field_ids.json"), None)
        if ids:
            out = apply_field_ids(out, ids)
    tmp = os.path.join(d, f"_rewrite-{uuid.uuid4().hex}")
    out.coalesce(max(n_files, 1)).write.mode("overwrite").parquet(tmp)
    written = live_files(tmp)
    for rel in written:
        os.replace(os.path.join(tmp, rel), os.path.join(d, f"part-{uuid.uuid4().hex}.parquet"))
    if table_root is not None and snap.load_manifest(table_root) is not None:
        snap.relocate_for_rewrite(table_root, old)
    else:
        for f in old:
            os.unlink(f)
    shutil.rmtree(tmp, ignore_errors=True)
    return len(written)


def compact_table(
    spark: SparkSession, table_dir: str, target_bytes: int = 128 * 1024 * 1024
) -> dict[str, int]:
    """OPTIMIZE compact (OptimizeType::Compact, delta.rs:588-622): within
    each partition directory, merge small files into ~target_bytes files.
    Returns {partition_dir: files_removed}."""
    stats: dict[str, int] = {}
    for d, files in _partition_dirs(table_dir).items():
        total = sum(os.path.getsize(f) for f in files)
        want = max(1, math.ceil(total / target_bytes))
        if len(files) <= want:
            continue
        stats[d] = len(files) - _rewrite_dir(
            spark, d, files, None, want, table_root=table_dir
        )
    if stats:
        from tansu_spark.lake import snapshots as snap

        if snap.load_manifest(table_dir) is not None:
            snap.commit_snapshot(table_dir, "optimize-compact")
    return stats


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8) -> Column:
    """Z-order (Morton) key over `cols`: each column is bucketed to
    2^bits quantile ranks, then the rank bits are interleaved.

    Quantile cuts come from approxQuantile — computed once, driver-side,
    then applied as a when-chain: no global sort, no window, scales as a
    single scan. (Delta's OPTIMIZE ZORDER BY does the same range-bucket +
    interleave internally.)"""
    n_buckets = 1 << bits
    qs = [i / n_buckets for i in range(1, n_buckets)]
    rank_cols = []
    for c in cols:
        cuts = df.approxQuantile(c, qs, 0.001)
        rank = F.lit(0)
        for i, cut in enumerate(cuts):
            rank = F.when(F.col(c) > cut, F.lit(i + 1)).otherwise(rank)
        rank_cols.append(rank)
    z = F.lit(0)
    k = len(cols)
    for b in range(bits):
        for j, rank in enumerate(rank_cols):
            bit = F.shiftright(rank, b).bitwiseAND(F.lit(1))
            z = z + (bit * F.lit(1 << (b * k + j)))
    return z.cast("long")


def zorder_table(
    spark: SparkSession,
    table_dir: str,
    cols: list[str],
    bits: int = 8,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """OPTIMIZE ZORDER BY (delta.rs:577-586): rewrite each partition
    directory ordered by the interleaved key so multi-column range
    predicates prune row groups. Returns partitions rewritten."""
    n = 0
    for d, files in _partition_dirs(table_dir).items():
        total = sum(os.path.getsize(f) for f in files)
        want = max(1, math.ceil(total / target_bytes))

        def order(df: DataFrame) -> DataFrame:
            return (
                df.withColumn("_z", zorder_key(df, cols, bits))
                .sortWithinPartitions("_z")
                .drop("_z")
            )

        # repartitionByRange on the z-key before the sort when splitting
        # into multiple files, so file-level min/max ranges don't overlap.
        def order_multi(df: DataFrame) -> DataFrame:
            z = zorder_key(df, cols, bits)
            return (
                df.withColumn("_z", z)
                .repartitionByRange(want, "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )

        _rewrite_dir(
            spark, d, files, order if want == 1 else order_multi, want,
            table_root=table_dir,
        )
        n += 1
    if n:
        from tansu_spark.lake import snapshots as snap

        if snap.load_manifest(table_dir) is not None:
            snap.commit_snapshot(table_dir, "optimize-zorder")
    return n


def retention_sweep(broker, topic: str, now_ms: int | None = None) -> int:
    """policy_delete (pg.rs:1287-1302): drop records older than
    retention.ms (default 7d) from the topic store, advancing the low
    watermark per partition. Partition directories are rewritten in place;
    fully-expired directories just lose all rows. Returns rows deleted."""
    import datetime

    from tansu_spark.broker.state import file_lock, read_json, write_json_atomic

    cfg = broker.describe_topic(topic)
    now_ms = now_ms or int(time.time() * 1000)
    cutoff = datetime.datetime.utcfromtimestamp((now_ms - cfg.retention_ms) / 1000.0)

    deleted = 0
    with file_lock(broker._state(topic, ".lock")):
        data = broker._data_dir(topic)
        for d, files in _partition_dirs(data).items():
            df = broker.spark.read.parquet(*files)
            n_old = df.filter(F.col("timestamp") < cutoff).count()
            if n_old:
                _rewrite_dir(
                    broker.spark,
                    d,
                    files,
                    lambda x: x.filter(F.col("timestamp") >= cutoff),
                    max(1, len(files) // 2),
                )
                deleted += n_old
        # advance low watermarks to the first surviving offset
        marks = read_json(broker._state(topic, "watermarks.json"), {})
        survivors = {
            int(r["partition"]): r["lo"]
            for r in broker.records(topic)
            .groupBy("partition")
            .agg(F.min("offset").alias("lo"))
            .collect()
        }
        for p, m in marks.items():
            m["low"] = int(survivors.get(int(p), m["high"]))
        write_json_atomic(broker._state(topic, "watermarks.json"), marks)
        broker._refresh_segment_stats(topic)
    return deleted


def compact_topic(broker, topic: str) -> int:
    """cleanup.policy=compact (policy_compact.sql): keep only the
    max-offset record per (partition, key); per-partition rewrite, no
    cross-partition shuffle. Returns rows removed."""
    from pyspark.sql import Window

    from tansu_spark.broker.state import file_lock

    removed = 0
    with file_lock(broker._state(topic, ".lock")):
        for d, files in _partition_dirs(broker._data_dir(topic)).items():
            w = Window.partitionBy("key").orderBy(F.desc("offset"))

            def keep_latest(df: DataFrame) -> DataFrame:
                return (
                    df.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .drop("_rn")
                )

            df = broker.spark.read.parquet(*files)
            before = df.count()
            after = df.select("key").distinct().count()
            if after < before:
                _rewrite_dir(broker.spark, d, files, keep_latest, 1)
                removed += before - after
        broker._refresh_segment_stats(topic)
    return removed


def vacuum(table_dir: str, max_age_seconds: float = 3600.0) -> int:
    """Remove leftover temp/rewrite artifacts older than max_age
    (Delta VACUUM analog for our layout). Returns paths removed."""
    n = 0
    now = time.time()
    for root, dirs, _files in os.walk(table_dir):
        for d in list(dirs):
            if d.startswith("_rewrite-"):
                p = os.path.join(root, d)
                if now - os.path.getmtime(p) > max_age_seconds:
                    shutil.rmtree(p, ignore_errors=True)
                    n += 1
                dirs.remove(d)
    return n


class Maintainer:
    """Overlap-protected maintenance scheduler (broker.rs:242-258: skip the
    tick if a sweep is in flight)."""

    def __init__(self, broker, sink=None):
        self.broker = broker
        self.sink = sink
        self._running = False

    def tick(self) -> dict[str, dict]:
        """One sweep; instrumented as `lakehouse_maintenance_duration`
        (the reference's histogram, nisshi-schema/src/lake.rs:154-176)."""
        if self._running:
            return {}  # skip — previous sweep still in flight
        from tansu_spark import metrics as M

        self._running = True
        with M.timed("lakehouse_maintenance_duration"):
            return self._tick_impl()

    def _tick_impl(self) -> dict[str, dict]:
        try:
            report: dict[str, dict] = {}
            # Txn sweep first (reference: every 10 s vs the 10 min storage
            # sweep — one tick here covers both cadences).
            expired = self.broker.maintain_transactions()
            if expired:
                report["_txns_expired"] = {"aborted": expired}
            for topic in self.broker.topics():
                cfg = self.broker.describe_topic(topic)
                r: dict = {}
                if cfg.cleanup_policy == "compact":
                    r["compacted"] = compact_topic(self.broker, topic)
                else:
                    r["deleted"] = retention_sweep(self.broker, topic)
                if self.sink is not None:
                    lake_cfg = self.sink._lake_config(topic)
                    if lake_cfg["sink"]:
                        table = self.sink.table_dir(topic)
                        if os.path.exists(table):
                            r["compact_files"] = sum(
                                compact_table(self.broker.spark, table).values()
                            )
                            if lake_cfg["z_order"]:
                                r["zordered"] = zorder_table(
                                    self.broker.spark, table, lake_cfg["z_order"]
                                )
                            vacuum(table)
                            # Refresh the data-skipping manifest if this
                            # table keeps one: the rewrites above changed
                            # file boundaries.
                            stats = load_stats(table)
                            if stats is not None:
                                stats = collect_stats(
                                    self.broker.spark, table, stats["columns"]
                                )
                                r["stats_files"] = len(stats["files"])
                report[topic] = r
            return report
        finally:
            self._running = False
