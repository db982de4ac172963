"""SparkSession factory with scale-oriented defaults.

Design notes for 100 TB / 1000-executor deployments (tested on local[N]):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic broadcast conversion replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces. On a real cluster set it to ~2-3x total cores via
  ``extra_conf``.
- Arrow execution enabled so any Pandas-UDF fallback path is vectorized.
- Parquet pushdown/dictionary defaults left on; we verify pushdown in
  tests via ``explain("formatted")`` (PushedFilters / ReadSchema).
- Streaming state stays on the HDFS-backed provider: RocksDB measured
  24% slower on the stateful queries at sf0.1, where state is tiny. For
  state larger than the heap, pass the RocksDB
  ``spark.sql.streaming.stateStore.providerClass`` via ``extra_conf``.
- AQE does not reach stateful streaming: its state partition count is the
  ``spark.sql.shuffle.partitions`` set at a query's first start. The
  drained oracle runs (``streaming.run_available_now``) size it to their
  input rows, capped at the default parallelism; checkpointed sinks keep
  the session's value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # Kafka-equivalent record batches are zstd in the reference
    # (nisshi-sans-io/src/record/deflated.rs:341-380); parquet zstd matches.
    "spark.sql.parquet.compression.codec": "zstd",
    # Emit PARQUET:field_id from StructField metadata (lake/field_ids.py)
    # so lake parquet is adoptable by an Iceberg catalog (id-based column
    # matching) — the reference's json/arrow.rs:70-78 behavior.
    "spark.sql.parquet.fieldId.write.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    # Reliable checkpoints (materialize.corpus_checkpoint under
    # SPARK_GRAFT_CHECKPOINT_DIR) are deleted once their RDD is
    # unreachable, so a long-lived session's checkpoint dir stays bounded.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "tansu-spark",
    cpus: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, else all local cores.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Python workers (Pandas UDF paths) import this package by name; they
    # inherit PYTHONPATH from the JVM's environment, not the driver's
    # sys.path — export the repo root BEFORE the JVM starts so the entry
    # point works from any cwd.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
