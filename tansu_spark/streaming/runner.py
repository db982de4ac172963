"""The engine's two ways of running a Structured Streaming query.

- `run_available_now`: the oracle-run policy. A finite stream is drained
  into the memory sink under an ``availableNow`` trigger and read back as
  a table, so a streaming operator's final state can be checked against
  its batch twin (streaming/batch unification, *Structured Streaming*,
  SIGMOD 2018). Its state partitions are sized to the input
  (`state_partitions`), and each batch's progress phases are handed to
  `tansu_spark.metrics`.
- `start_foreach_batch`: the sink contract of the engine's topic, lake
  and CDC sinks. Each micro-batch goes to ``fn(batch, batch_id)`` with a
  checkpoint, so a restart replays from the last committed batch; the
  default trigger drains what is there and stops.
"""

from __future__ import annotations

import fnmatch
import os
from typing import Callable

from pyspark.sql import DataFrame

from tansu_spark import metrics as M
from tansu_spark.lake.stats import live_files
from tansu_spark.materialize import scoped_shuffle_partitions

# Stateful streaming keeps one state store per shuffle partition and
# operator, and commits every store on every batch, data or not. At small
# inputs that commit cost, not the compute, sets the wall (the interval
# join at sf0.01: 32 stores, 2.0-2.4 s of commit per batch at 8
# partitions). One state partition per this many source rows gives 1 at
# sf0.01 and 4 at sf0.1 on local[4], where every streaming query runs at
# least as fast as at 8; twice as many rows would give 2 at sf0.1, where
# the EWMA's serial per-key pandas work took 2.7 s against 2.1 s at 8.
# Table in CHANGES.md. Results do not depend on it.
ROWS_PER_STATE_PARTITION = 25_000


def state_partitions(source_rows: int | None, cap: int) -> int:
    """``ceil(source_rows / ROWS_PER_STATE_PARTITION)`` clamped to
    ``[1, cap]``; an unknown input size (None) gets ``cap``."""
    if source_rows is None:
        return cap
    return max(1, min(cap, -(-source_rows // ROWS_PER_STATE_PARTITION)))


def source_rows(df: DataFrame) -> int | None:
    """Rows held by the streaming ``df``'s sources: the parquet footer row
    counts of the files each file source's ``path`` and ``pathGlobFilter``
    select. None when any streaming source is not a parquet file source
    over a local directory. Reads the analyzed plan's leaves and the
    footers only; runs no Spark job."""
    import pyarrow.parquet as pq

    jvm = df.sparkSession._jvm
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if not leaf.isStreaming():
            continue  # the static side of a stream-static join
        if leaf.nodeName() != "StreamingRelation":
            return None
        source = leaf.dataSource()
        opts = dict(jvm.scala.jdk.javaapi.CollectionConverters.asJava(source.options()))
        path = opts.get("path")
        if source.className() != "parquet" or not path or not os.path.isdir(path):
            return None
        glob = opts.get("pathGlobFilter", "*")
        total += sum(
            pq.read_metadata(os.path.join(path, rel)).num_rows
            for rel in live_files(path)
            if fnmatch.fnmatchcase(os.path.basename(rel), glob)
        )
    return total


def _observe(progress) -> None:
    """Each batch's ``durationMs`` phases and its state stores' summed
    ``commitTimeMs`` into `tansu_spark.metrics`."""
    for p in progress:
        for phase, ms in p.durationMs.items():
            M.observe(f"streaming_{phase}_duration", ms)
        if p.stateOperators:
            M.observe(
                "streaming_state_commit_duration",
                sum(op.commitTimeMs for op in p.stateOperators),
            )


def run_available_now(df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Drain the streaming ``df`` into the memory sink ``name`` and return
    the sink as a table. The run starts fresh, so its state partition
    count is free: `state_partitions` of the input, capped at the
    context's default parallelism."""
    spark = df.sparkSession
    n = state_partitions(source_rows(df), spark.sparkContext.defaultParallelism)
    with scoped_shuffle_partitions(spark, n):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            _observe(q.recentProgress)
    return spark.table(name)


def start_foreach_batch(
    stream: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    trigger: dict | None = None,
):
    """Start ``stream`` with ``fn`` as its foreachBatch sink; ``trigger``
    defaults to ``availableNow``. Returns the StreamingQuery."""
    return (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
