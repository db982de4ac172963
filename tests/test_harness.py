"""The shared release-and-time harness (tansu_spark/harness.py) and the
bench's canonical-stamp rules (bench.contamination_flags)."""

from __future__ import annotations

import bench
from tansu_spark.harness import release, timed
from tansu_spark.queries._session_cache import _checkpoint_rdd, _persistent_rdd_ids


def test_release_frees_leftovers_but_keeps_session_builds(spark):
    from tansu_spark.queries import pipeline as P

    fps = P._winnow_fps_cached(spark, "/root/testdata/sf0.001")
    stranger = spark.range(100).localCheckpoint(eager=True)
    stranger_id = int(_checkpoint_rdd(stranger).id())
    assert stranger_id in _persistent_rdd_ids(spark)

    release(spark)

    assert stranger_id not in _persistent_rdd_ids(spark)
    assert P._winnow_fps_cached(spark, "/root/testdata/sf0.001") is fps


def test_timed_counts_jobs_and_clears_the_group(spark):
    sec, n_jobs = timed(spark, "probe", lambda: spark.range(1000).collect())
    assert sec > 0
    assert n_jobs >= 1
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    # a second call with the same label counts only its own jobs
    _, again = timed(spark, "probe", lambda: None)
    assert again == 0


def _probes(*secs):
    return [
        {"after_n": 40 * (i + 1), "cpu_probe_s": 0.1, "parallel_probe_s": s}
        for i, s in enumerate(secs)
    ]


def test_uniformly_contended_midrun_probes_are_flagged():
    # 3x the ~0.24s warm floor at 8 cores, on every probe: the run-derived
    # floor alone inflates with them and would call the run clean.
    flags, anchor = bench.contamination_flags(
        0.41, 0.41, _probes(0.72, 0.75, 0.73, 0.74), parallelism=8
    )
    assert anchor == 0.72
    assert len(flags) == 4 and all("warm floor" in f for f in flags)


def test_clean_8_core_midrun_probes_are_not_flagged():
    flags, anchor = bench.contamination_flags(
        0.41, 0.41, _probes(0.24, 0.27, 0.25, 0.31), parallelism=8
    )
    assert anchor == 0.24
    assert flags == []


def test_one_steal_window_is_flagged_against_the_run_floor():
    flags, _ = bench.contamination_flags(
        0.41, 0.41, _probes(0.24, 0.25, 0.55, 0.26), parallelism=8
    )
    assert len(flags) == 1 and "after query 120" in flags[0]
