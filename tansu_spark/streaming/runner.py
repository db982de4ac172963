"""The engine's two ways of running a Structured Streaming query.

- `run_available_now`: the oracle-run policy. A finite stream is drained
  into the memory sink under an ``availableNow`` trigger and read back as
  a table, so a streaming operator's final state can be checked against
  its batch twin (streaming/batch unification, *Structured Streaming*,
  SIGMOD 2018).
- `start_foreach_batch`: the sink contract of the engine's topic, lake
  and CDC sinks. Each micro-batch goes to ``fn(batch, batch_id)`` with a
  checkpoint, so a restart replays from the last committed batch; the
  default trigger drains what is there and stops.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from tansu_spark.materialize import scoped_shuffle_partitions

# Stateful streaming creates one state store per shuffle partition, fixed
# at the query's first start. At oracle sizes 32 stores are pure overhead
# (measured 2.5x on the interval join); results do not depend on the count.
STATE_PARTITIONS = 8


def run_available_now(df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Drain the streaming ``df`` into the memory sink ``name`` and return
    the sink as a table."""
    spark = df.sparkSession
    with scoped_shuffle_partitions(spark, STATE_PARTITIONS):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
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
