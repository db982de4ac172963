"""Measurement harness: the one release-and-time loop that ``bench.py``
and the profiling tools share.

``release`` drops what one query leaves behind (the SQL cache and every
persistent RDD; iterative operators pin ``localCheckpoint`` blocks that
outlive their query) except the builds the session caches protect
(queries/_session_cache.py), which queries share on purpose.
``timed`` is the bench's timing methodology. Job-group tagging counts the
jobs the caller's thread submits; broadcast-exchange jobs run on pool
threads and don't inherit the group, so the count is a floor.
"""

from __future__ import annotations

import time
import uuid

from tansu_spark.queries._session_cache import all_protected_ids


def release(spark) -> None:
    keep = all_protected_ids()
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        e = it.next()
        if int(e._1()) not in keep:
            e._2().unpersist(False)


def timed(spark, label: str, fn) -> tuple[float, int]:
    """``(seconds, n_jobs)`` of one ``fn()`` call. Each call tags its own
    job group, so repeats of one label never share a count."""
    sc = spark.sparkContext
    group = f"q:{label}:{uuid.uuid4().hex}"
    sc.setJobGroup(group, label)
    t0 = time.perf_counter()
    try:
        fn()
        sec = time.perf_counter() - t0
    finally:
        # Clear the group BEFORE returning: jobs the caller triggers next
        # (a release, a calibration probe) must not be charged to label.
        sc._jsc.clearJobGroup()
    return sec, len(sc.statusTracker().getJobIdsForGroup(group))
