"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
COMPACT JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {headline: sec}, "groups": {prefix: sec}, "sf": ...}.

Round-1 lesson: a 6 KB line with all 125 per-query timings was truncated
by the driver's output capture, leaving BENCH_r01.json unparsable. The
final line now carries only the headline per-query timings plus per-group
subtotals (~600 bytes); the full per-query map goes to BENCH_DETAIL.json
next to this script.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tansu_spark.harness import release, timed  # noqa: E402
from tansu_spark.queries import QUERIES  # noqa: E402
from tansu_spark.session import get_spark  # noqa: E402

# Headline set: the bench measures end-to-end wall time per query
# (plan + execute + collect) at sf0.1.
HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q18_large_volume_customer",
]


def cpu_probe() -> float:
    """Single-thread CPU calibration: best-of-3 wall time of a fixed
    pure-Python workload (interpreter arithmetic — sensitive to exactly
    the host contention that inflates query wall times). Rounds compare
    on control-normalized ratios instead of arguing about load by hand
    (r5 verdict ask #4: the host ran ~1.23x slower than r4 with zero
    code change; the probe makes that measurable inside the artifact)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(2_000_000):
            x += i * i
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def parallel_probe(spark) -> float:
    """Multi-core calibration (r6 verdict ask #6): best-of-3 wall time of
    a fixed 32-task JVM aggregation. The single-thread cpu_probe cannot
    see multi-core contention — r6's driver run inflated the vector
    family 3-10x while the single-thread probe moved 0.2%. This probe
    saturates the executor pool the same way the suite does, so
    cross-round comparisons can normalize for parallel slowdown too."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 320_000_000, 1, 32).selectExpr(
            "sum((id % 97) * (id % 89)) as s"  # bounded terms: no overflow
        ).collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def scaling_probe(spark) -> float:
    """Core-count-attributable CPU probe (r10 verdict ask #1): a fixed
    3.2B-row / 64-task JVM aggregation whose per-task compute (~0.3-0.5s)
    dwarfs the ~0.1s fixed job overhead, so its wall scales ~linearly
    with the executor core count (unlike parallel_probe, whose 320M rows
    are overhead-dominated and read ~flat 8-vs-32 cores). An 8-core run
    should read ~4x the 32-core wall; the driver can attribute core-count
    effects from this single number plus default_parallelism below."""
    t0 = time.perf_counter()
    spark.range(0, 3_200_000_000, 1, 64).selectExpr(
        "sum((id % 97) * (id % 89)) as s"
    ).collect()
    return round(time.perf_counter() - t0, 4)


# Canonical-stamp guard (r9 verdict ask #2): the r9 artifact was taken
# in a ~2.7x-contended window (scan control 1.169s vs the 0.41s r1
# anchor) and read as a fake 1.5x regression. Refuse the stamp when the
# controls deviate from their quiet-window anchors so a contaminated
# run is self-labeled instead of judged at face value.
SCAN_CONTROL_ANCHOR_S = 0.41  # tpch_q6, unchanged since r1
# 32-task JVM agg, quiet-window r8/r9, at 32 cores (one scheduling
# wave). At fewer cores the same probe legitimately needs
# ceil(32/cores) waves; measured points: 0.33s cold at 32 cores,
# 0.41s cold at 8 cores (BENCH_r10_c8) -> ~0.03s per extra wave.
PARALLEL_PROBE_ANCHOR_S = 0.33
# The same probe with the JVM warm (mid-run): 0.15s at 32 cores, ~0.24s
# at 8 cores — the same ~0.03s per extra wave as the cold anchor.
WARM_PROBE_ANCHOR_S = 0.15
WAVE_S = 0.03


def contamination_flags(
    scan_control_s: float | None,
    par_probe_s: float,
    midrun_probes: list[dict],
    parallelism: int,
    midrun_anchor_s: float | None = None,
) -> tuple[list[str], float | None]:
    """The canonical-stamp rules as one pure function: ``(flags,
    midrun_anchor_s)``; an empty ``flags`` means the run is canonical.

    Mid-run probes gate against a WARM anchor: the cold endpoint anchor
    lets steal windows that inflate query blocks 1.5-4x hide, because
    with the JVM warm the 32-task probe runs in ~0.13-0.19s at 32 cores.
    Two warm gates apply:
    - the run-derived floor, THIS run's cleanest mid-run probe (r10
      verdict ask #1): a steal window inflates some probes while the
      clean ones set the floor, at any core count (``midrun_anchor_s``
      overrides it for hosts where the floor is known);
    - an absolute warm floor scaled by scheduling waves, because a
      uniformly contended run inflates its own floor and would never be
      flagged by the first gate alone.
    """
    waves = -(-32 // max(1, parallelism))
    par_anchor_s = PARALLEL_PROBE_ANCHOR_S + WAVE_S * (waves - 1)
    warm_anchor_s = WARM_PROBE_ANCHOR_S + WAVE_S * (waves - 1)
    flags = []
    if scan_control_s is not None and scan_control_s > 1.5 * SCAN_CONTROL_ANCHOR_S:
        flags.append(
            f"scan_control {scan_control_s:.3f}s > 1.5x anchor {SCAN_CONTROL_ANCHOR_S}s"
        )
    if par_probe_s > 2.0 * par_anchor_s:
        flags.append(
            f"parallel_probe {par_probe_s:.3f}s > 2x anchor {par_anchor_s:.2f}s"
        )
    if midrun_anchor_s is None and midrun_probes:
        midrun_anchor_s = min(m["parallel_probe_s"] for m in midrun_probes)
    for m in midrun_probes:
        p, n = m["parallel_probe_s"], m["after_n"]
        if p > 2.0 * midrun_anchor_s:
            flags.append(
                f"midrun parallel_probe {p:.3f}s after query {n}"
                f" > 2x warm anchor {midrun_anchor_s:.3f}s"
            )
        elif p > 2.0 * warm_anchor_s:
            flags.append(
                f"midrun parallel_probe {p:.3f}s after query {n}"
                f" > 2x warm floor {warm_anchor_s:.2f}s ({waves} waves)"
            )
    return flags, midrun_anchor_s


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    probe_s = cpu_probe()
    load_start = os.getloadavg()[0]
    spark = get_spark(app_name="tansu-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    par_probe_s = parallel_probe(spark)
    scale_probe_s = scaling_probe(spark)

    names = [n for n in HEADLINE if n in QUERIES]
    # Include every other registered query too — coverage at bench scale.
    names += [n for n in sorted(QUERIES) if n not in names]

    # Warm up the JVM + parquet footer cache on the smallest query.
    QUERIES[names[0]](spark, sf_dir).collect()

    timings: dict[str, float] = {}
    jobs: dict[str, int] = {}
    # Mid-run contamination probes (optimization r10): the start/end
    # probes twice this round bracketed a hypervisor-steal window that
    # inflated contiguous query blocks 1.5-4x while both endpoint probes
    # read clean (e.g. a "canonical" 395.6s run measured with 13% of
    # busy CPU stolen mid-run, /proc/stat steal counters). Re-running
    # the probes every MIDRUN_EVERY queries makes the stamp refuse such
    # windows. Probe time is NOT added to any query's wall nor to
    # `value` (which is the sum of per-query timings), so totals stay
    # comparable with r1-r9.
    MIDRUN_EVERY = 40
    midrun_probes: list[dict] = []
    for qi, name in enumerate(names):
        # Query N+1 must not be taxed by query N's leftovers; the session
        # caches' shared builds survive (tansu_spark/harness.py).
        release(spark)
        # Jobs-per-query (r6 verdict ask #1c): serial driver-side job
        # chains (collect-train-then-serve) are invisible in wall time
        # alone but dominate under host contention.
        sec, jobs[name] = timed(
            spark, name, lambda: QUERIES[name](spark, sf_dir).collect()
        )
        timings[name] = round(sec, 3)
        if (qi + 1) % MIDRUN_EVERY == 0 and qi + 1 < len(names):
            midrun_probes.append(
                {
                    "after_n": qi + 1,
                    "cpu_probe_s": cpu_probe(),
                    "parallel_probe_s": parallel_probe(spark),
                }
            )

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    def group_of(name: str) -> str:
        for p in (
            "tpch", "kafka", "events", "text", "dedup", "sim", "lake",
            "sample", "corpus", "multimodal", "graph", "embeddings",
            "sketch", "market", "streaming", "mv", "pipeline", "asof",
        ):
            if name.startswith(p + "_") or name == p:
                return p
        return "other"

    groups: dict[str, float] = {}
    for name, sec in timings.items():
        g = group_of(name)
        groups[g] = round(groups.get(g, 0.0) + sec, 3)

    # Calibration block: single-thread CPU probe + the untouched-since-r1
    # pure-scan control (tpch_q6) + load averages. Cross-round comparisons
    # normalize per-query times by these controls (tools/bench_compare.py)
    # instead of eyeballing host contention.
    calibration = {
        "cpu_probe_s": probe_s,
        "parallel_probe_s": par_probe_s,
        "parallel_probe_tasks": 32,
        # Scaling-evidence contract (r10 verdict ask #1): the driver re-runs
        # the bench at a lower $SPARK_GRAFT_CPUS to measure scaling, but at
        # sf0.1 per-query wall is overhead-bound (8-core suite 366.9s vs
        # 32-core 369.6s in r10), so the per-query ratios cannot show the
        # core count took effect. These three fields can: the resolved
        # master string, the effective scheduler parallelism, and a probe
        # whose compute dominates its overhead (~linear in cores).
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "scaling_probe_s": scale_probe_s,
        "scaling_probe_tasks": 64,
        "scaling_probe_rows": 3_200_000_000,
        "scan_control": "tpch_q6_forecast_revenue",
        "scan_control_s": timings.get("tpch_q6_forecast_revenue"),
        "load_avg_start": round(load_start, 2),
        "load_avg_end": round(os.getloadavg()[0], 2),
        "midrun_probes": midrun_probes,
    }

    env_anchor = os.environ.get("SPARK_GRAFT_MIDRUN_ANCHOR_S")
    contamination, calibration["midrun_anchor_s"] = contamination_flags(
        calibration["scan_control_s"],
        par_probe_s,
        midrun_probes,
        spark.sparkContext.defaultParallelism,
        float(env_anchor) if env_anchor is not None else None,
    )

    detail = {
        "metric": "all_queries_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "jobs": jobs,
        "sf": float(sf) if sf else sf_dir,
        "calibration": calibration,
        # the BENCH_DETAIL written by the bench run the driver records as
        # BENCH_r{N}.json IS the round's canonical measurement (r5 shipped
        # two runs with different totals and no label — never again) —
        # UNLESS the in-run controls show host contention, in which case
        # the artifact says so itself.
        "canonical": not contamination,
        "contamination": contamination,
    }
    # BENCH_DETAIL.json is the judge's sf0.1 per-query record — a smoke
    # run at another SF must never overwrite it (round-2 commit 60411a4
    # briefly shipped sf0.001 numbers under the sf0.1 claim).
    if sf == "0.1":
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"), "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)

    print(
        json.dumps(
            {
                "metric": "all_queries_total_wall",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": {n: timings[n] for n in HEADLINE if n in timings},
                "groups": dict(sorted(groups.items())),
                "n_queries": len(timings),
                "sf": float(sf) if sf else sf_dir,
                "calibration": calibration,
                "canonical": not contamination,
                "contamination": contamination,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
