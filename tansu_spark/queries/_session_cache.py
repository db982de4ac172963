"""Session-scoped checkpoint cache — ONE home for the probe-and-rebuild
persistent-RDD registry pattern (ADVICE r10: `_sh_cached`,
`_winnow_fps_cached` and `_dedup_chain` each hand-rolled the cache-key /
protected-id / self-heal logic; a fourth copy was about to appear for the
shared k-NN graph).

Contract (unchanged from the r8-r10 pattern the bench and tests pin):

- Values are cached per ``(applicationId, *key)`` — a new Spark session
  never sees another session's frames, and nothing survives the process
  (no cross-run result caching).
- ``build()`` returns a DataFrame or a dict of DataFrames, each of which
  must be ``localCheckpoint(eager=True)``'d ALREADY — builders own
  materialization order (a chain must checkpoint stage N before building
  stage N+1 from it); the cache owns the registry bookkeeping.
- The hit path is a DRIVER-side probe, zero Spark jobs: the value is
  healthy iff every backing RDD is still in the persistent-RDD registry
  (a ``localCheckpoint``) or its reliable checkpoint file still exists
  (``corpus_checkpoint`` under ``SPARK_GRAFT_CHECKPOINT_DIR``; reliable
  checkpoints never enter the registry). An external unpersist (a
  manual clearCache, a release that ignores the protected set) or a
  deleted checkpoint directory makes the next call rebuild instead of
  raising.
- ``all_protected_ids()`` is what bulk-unpersist callers
  (``harness.release``) must skip: the union of every live cache
  entry's backing RDD ids, per-key so a rebuild/evict drops its stale
  ids.
"""

from __future__ import annotations


def _persistent_rdd_ids(spark) -> set:
    out = set()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        out.add(int(it.next()._1()))
    return out


def _checkpoint_rdd(df):
    """The RDD behind a checkpointed DataFrame: its analyzed plan is a
    LogicalRDD whose `rdd` field IS the checkpointed RDD — persisted (the
    id the persistent-RDD registry tracks) for a localCheckpoint, backed
    by a checkpoint file for a reliable one. None for any other frame."""
    try:
        return df._jdf.queryExecution().analyzed().rdd()
    except Exception:
        return None


def _backing_rdds(val) -> list:
    dfs = list(val.values()) if isinstance(val, dict) else [val]
    return [r for r in map(_checkpoint_rdd, dfs) if r is not None]


def _checkpoint_file_exists(spark, rdd) -> bool:
    f = rdd.getCheckpointFile()
    if not f.isDefined():
        return False
    path = spark._jvm.org.apache.hadoop.fs.Path(f.get())
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs.exists(path)


def _healthy(spark, val) -> bool:
    rdds = _backing_rdds(val)
    live = _persistent_rdd_ids(spark)
    return bool(rdds) and all(
        int(r.id()) in live or _checkpoint_file_exists(spark, r) for r in rdds
    )


class SessionCheckpointCache:
    """One named cache; ``cache`` / ``protected`` are plain dicts so tests
    can clear or inspect them (``{full_key: value}`` / ``{full_key:
    set_of_rdd_ids}``)."""

    _instances: list["SessionCheckpointCache"] = []

    def __init__(self, name: str) -> None:
        self.name = name
        self.cache: dict = {}
        self.protected: dict = {}
        SessionCheckpointCache._instances.append(self)

    def get(self, spark, key: tuple, build):
        full = (spark.sparkContext.applicationId,) + tuple(key)
        hit = self.cache.get(full)
        if hit is not None:
            if _healthy(spark, hit):
                return hit
            self.cache.pop(full, None)
            self.protected.pop(full, None)
        val = build()
        self.cache[full] = val
        self.protected[full] = {int(r.id()) for r in _backing_rdds(val)}
        return val


def all_protected_ids() -> set:
    out: set = set()
    for inst in SessionCheckpointCache._instances:
        for ids in inst.protected.values():
            out |= ids
    return out
