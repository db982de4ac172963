"""Incremental materialized views: a continuously-maintained aggregate
table over a topic, updated per micro-batch by rewriting only the
key-hash buckets a batch touches.

Reference parity: the reference materializes every produced batch into
the lake (nisshi-schema/src/lake.rs store path) but recomputes analytic
aggregates from scratch per query; this keeps a mergeable aggregate
CURRENT incrementally — the streaming half of "compute once, read many".

Scale design:
- The view is partitioned by `bucket = pmod(hash(key), n_buckets)`. A
  micro-batch first aggregates itself (partial agg, one small shuffle on
  the batch only), then merges with the CURRENT rows of just the touched
  buckets, and rewrites those buckets via dynamic partition overwrite.
  Per-batch cost is O(touched buckets), not O(view) — with uniform key
  hashing and B buckets, a batch touching k keys rewrites at most
  min(k, B) buckets.
- Aggregates must be MERGEABLE (count/sum/min/max): the view stores the
  already-merged form, so merge = the same agg applied to
  union(current, partial) — associativity is the whole trick.
- Exactly-once: the view directory carries `_view_meta.json` with the
  last applied batch id; a replayed micro-batch (restart between write
  and checkpoint commit) is skipped. Same fencing idea as the broker's
  producer sequence.
- On Delta/Iceberg this merge would be a MERGE INTO; the bucket rewrite
  is the parquet-native equivalent with identical asymptotics.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tansu_spark.broker.state import read_json, write_json_atomic
from tansu_spark.streaming.runner import start_foreach_batch

_MERGEABLE = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}


def _agg_exprs(aggs: dict[str, tuple[str, str]], merge: bool) -> list:
    """aggs: out_col -> (kind, source_col). In merge mode every kind
    re-aggregates the stored column (count merges by SUM)."""
    out = []
    for name, (kind, col) in aggs.items():
        if kind not in _MERGEABLE:
            raise ValueError(f"aggregate {kind!r} is not mergeable; use one of {sorted(_MERGEABLE)}")
        if merge:
            out.append(_MERGEABLE[kind](name).alias(name))
        elif kind == "count":
            out.append(F.count(F.lit(1)).alias(name))
        else:
            out.append(getattr(F, kind)(col).alias(name))
    return out


class IncrementalView:
    """A mergeable-aggregate view `SELECT key_cols, aggs FROM source
    GROUP BY key_cols`, maintained incrementally."""

    def __init__(
        self,
        spark: SparkSession,
        view_dir: str,
        key_cols: list[str],
        aggs: dict[str, tuple[str, str]],
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.view_dir = view_dir
        self.key_cols = list(key_cols)
        self.aggs = dict(aggs)
        self.n_buckets = n_buckets
        os.makedirs(view_dir, exist_ok=True)

    # ------------------------------------------------------------------ state
    def _meta_path(self) -> str:
        return os.path.join(self.view_dir, "_view_meta.json")

    def last_batch_id(self) -> int:
        return int(read_json(self._meta_path(), {"last_batch_id": -1})["last_batch_id"])

    def _bucket(self):
        return F.pmod(F.hash(*self.key_cols), F.lit(self.n_buckets)).cast("int")

    def _has_data(self) -> bool:
        return any(e.startswith("bucket=") for e in os.listdir(self.view_dir))

    # ------------------------------------------------------------------- read
    def read(self) -> DataFrame:
        """The current view contents (key_cols + aggregate columns)."""
        if not self._has_data():
            raise FileNotFoundError(f"view {self.view_dir} has no data yet")
        return self.spark.read.parquet(self.view_dir).drop("bucket")

    # ------------------------------------------------------------------ write
    def apply_batch(self, batch: DataFrame, batch_id: int) -> bool:
        """Merge one micro-batch. Returns False when the batch was already
        applied (replay after a restart) and was skipped."""
        if batch_id <= self.last_batch_id():
            return False
        partial = (
            batch.groupBy(*self.key_cols)
            .agg(*_agg_exprs(self.aggs, merge=False))
            .withColumn("bucket", self._bucket())
        )
        if self._has_data():
            touched = [r["bucket"] for r in partial.select("bucket").distinct().collect()]
            if not touched:
                write_json_atomic(self._meta_path(), {"last_batch_id": batch_id})
                return True
            current = self.spark.read.parquet(self.view_dir).where(
                F.col("bucket").isin(touched)
            )
            merged = (
                current.unionByName(partial)
                .groupBy("bucket", *self.key_cols)
                .agg(*_agg_exprs(self.aggs, merge=True))
            )
            # Pin aggregate columns to the batch-partial schema — the
            # view's canonical types. Merge re-aggregation WIDENS
            # decimal sums (22,2 -> 32,2 -> 38,2 ...), so buckets
            # touched by different numbers of batches would be written
            # with different parquet decimal widths and break read-back
            # schema resolution (dense corpora mask it — every batch
            # touches every bucket, so widths stay uniform; a sparse
            # hostile batch pattern exposed it). The cast back is exact
            # while the merged sum fits the partial type — the same
            # documented numeric domain the decimal grid already has.
            # Guarded down-cast: a decimal overflow here would either
            # cast to NULL (non-ANSI: silent view-state corruption) or
            # throw a raw SparkArithmeticException mid-write (ANSI).
            # try_cast is NULL-on-overflow in BOTH modes; NULL-after-cast
            # with non-NULL input raises a descriptive error INSIDE the
            # write job (raise_error column — zero extra jobs; a separate
            # pre-write probe re-ran the merge per batch and showed up as
            # +8 jobs / +0.5s on the r10 bench). A failed write aborts
            # before last_batch_id advances, so replay stays safe.
            cast_cols = [
                f for f in partial.schema.fields if f.name in self.aggs
            ]
            for f in cast_cols:
                tc = F.col(f.name).try_cast(f.dataType)
                merged = merged.withColumn(
                    f.name,
                    F.when(
                        F.col(f.name).isNotNull() & tc.isNull(),
                        F.raise_error(
                            F.lit(
                                f"DECIMAL_OVERFLOW: view {self.view_dir}: "
                                f"merged {f.name} overflows the view's "
                                f"canonical width {f.dataType.simpleString()};"
                                " recreate the view with a wider sum type"
                            )
                        ).cast(f.dataType),
                    ).otherwise(tc),
                )
        else:
            merged = partial.select("bucket", *self.key_cols, *self.aggs)
        writer = merged.write.mode("overwrite").partitionBy("bucket")
        # Dynamic mode replaces only the buckets present in `merged`.
        try:
            writer.option("partitionOverwriteMode", "dynamic").parquet(self.view_dir)
        except Exception as e:  # noqa: BLE001 — re-type the guard's error
            if "DECIMAL_OVERFLOW" in str(e):
                raise ArithmeticError(str(e).split("SQLSTATE")[0]) from e
            raise
        write_json_atomic(self._meta_path(), {"last_batch_id": batch_id})
        return True

    def stream_from(
        self,
        stream: DataFrame,
        checkpoint: str,
        transform: Callable[[DataFrame], DataFrame] | None = None,
        trigger: dict | None = None,
    ):
        """Maintain the view from a streaming DataFrame via foreachBatch.
        `transform` maps the raw micro-batch to the rows to aggregate
        (e.g. registry decode + projection). Returns the StreamingQuery."""

        def sink(batch: DataFrame, batch_id: int) -> None:
            self.apply_batch(transform(batch) if transform else batch, batch_id)

        return start_foreach_batch(stream, sink, checkpoint, trigger)
