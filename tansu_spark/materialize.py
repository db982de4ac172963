"""Materialization with an explicit scale class — the r10 verdict's
fault-tolerance audit ("what's wrong" #3) turned into code.

Every eager materialization in the engine is one of two classes:

- model-sized — bounded frames (centroids, codebooks, covariance
  matrices, sketch registers, per-round 1-row picks). A direct
  ``localCheckpoint`` is always right here: the blocks are tiny, and on a
  real cluster losing one costs a cheap rebuild of a small table
  (tests/test_materialize.py keeps the allowlist of those sites).

- corpus-sized — frames proportional to the input corpus (shingle
  tables, token/position tables, candidate-pair tables, k-NN adjacency,
  per-round CC label/edge tables), routed through ``corpus_checkpoint``.
  ``localCheckpoint`` truncates lineage into NON-REPLICATED
  executor-local blocks: on a cluster, one lost executor makes every
  consumer unrecoverable (local checkpoints cannot recompute). Locally
  (``local[N]``, this repo's bench) the executor IS the driver, so the
  hazard does not exist and localCheckpoint stays the default. When
  ``SPARK_GRAFT_CHECKPOINT_DIR`` is set (a production cluster pointing at
  durable storage), corpus-sized sites switch to a RELIABLE
  ``DataFrame.checkpoint`` — same lineage truncation, same plan shape for
  consumers (a LogicalRDD scan), but recoverable.

The env-var default keeps the driver's bench methodology comparable
round-over-round (no behavior change at ``local[32]``); the production
value is justified in OPTIMIZATION_r11.md. Iterative operators
(connected components, star rounds) route their per-round tables through
``corpus_checkpoint`` too: with a checkpoint dir configured every round
is durably cut, the standard long-lineage discipline for iterative graph
jobs (cf. GraphFrames' checkpointInterval).

Session caches (queries/_session_cache.py) count a reliable entry as
healthy while its checkpoint file exists, so corpus-sized builds stay
shared on that path too; ``session._DEFAULTS`` cleans unreachable files.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame


@contextmanager
def scoped_shuffle_partitions(spark, n: int):
    """Temporarily pin ``spark.sql.shuffle.partitions`` — for iterative
    operators whose per-round plans execute through ``localCheckpoint``
    (no AQE coalescing on that path, so the session's static default
    applies to every tiny round shuffle). Callers derive ``n`` from the
    OBSERVED input size (guide §2: scale-adaptive partitioning), so the
    same code is right at sf0.1 and on a cluster."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def corpus_checkpoint(df: DataFrame) -> DataFrame:
    """``df.transform(corpus_checkpoint)`` — drop-in replacement for
    ``localCheckpoint(eager=True)`` at corpus-sized sites (see module
    docstring); the ``transform`` form keeps call chains intact so the
    scale classification reads inline at every site."""
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir:
        sc = df.sparkSession.sparkContext
        if not sc._jsc.sc().getCheckpointDir().isDefined():
            sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
