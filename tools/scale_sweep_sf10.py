"""Third-decade scale evidence (r10): sf1 -> sf10 on the high-ratio band.

WHY a third decade: SCALING.md's second decade (sf0.1 -> sf1) left a
6-10x band whose members we EXPLAINED as fixed-cost amortization via
stage attribution (data stages ~10x, derived stages inside disclosed
bounds). For a linear query t(sf) = c + k*sf the per-decade ratio RISES
toward 10x as the fixed cost c washes out — so the falsifiable
prediction for decade 3 (testdata_big/sf10, 100 permutation-ciphered
shards of sf0.1, ~2.5 GB) is:

    d3 ratio in (d2 ratio, ~10x]  for every band member.

A ratio ABOVE ~10x at sf10 is a superlinear term that two decades hid —
exactly what would hurt at 100 TB. Controls (tpch_q1, tpch_q18,
dedup_exact) pin the same prediction on known-linear plans.

sf1 times are RE-MEASURED in this session (same JVM, same host window)
so the d3 ratio is never computed across benchmark windows; scan-control
and load-average calibration is recorded like bench.py so a contended
window is visible in the artifact.

Run: python tools/scale_sweep_sf10.py     (~35-45 min; needs
     testdata_big/sf10 from `python tools/gen_scale_data.py --sf10`)
"""

from __future__ import annotations

import json
import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1_DIR = os.path.join(HERE, "testdata_big", "sf1")
SF10_DIR = os.path.join(HERE, "testdata_big", "sf10")
OUT_JSON = os.path.join(HERE, "SCALING_SF10.json")
SCALING_MD = os.path.join(HERE, "SCALING.md")
SECTION_MARK = "## Third decade (sf10)"
WATCHDOG_S = 1500.0

# Every live >=5.5x second-decade entry plus three linear controls.
BAND = [
    ("tpch_q1_pricing_summary", "control: scan + partial agg"),
    ("tpch_q18_large_volume_customer", "control: fact-fact join"),
    ("dedup_exact", "control: full-text hash groupBy"),
    ("dedup_winnowing_fingerprints", "7.5x d2; 24.5x pair ceiling"),
    ("sim_kmeans_trained_topk", "7.4x d2; exact-mean training"),
    ("text_rake_phrases", "7.1x d2; phrase/word explodes"),
    ("pipeline_curation_capstone", "6.8x d2; 8-stage composition"),
    ("dedup_chunk_minhash", "5.8x d2; chunk-grain LSH"),
    ("lake_iceberg_bucket_string", "5.7x d2 pre-r10-opt; per-byte hash"),
    ("sim_ivfpq_residual_topk", "5.6x d2; IVFADC dataflow"),
    ("sim_ivfpq_topk_seeded", "5.5x d2; broadcast-LUT fold"),
    ("dedup_exact_substring", "5.3x d2; stride-1 window explode"),
    ("embeddings_power_iteration_pc", "5.2x d2; Gram + iterations"),
    ("sim_ivf_ann_topk", "8.5x d2 (r10 stage table)"),
    ("text_inverted_index", "4.0x d2; zipfian partial aggs"),
]
_FULL_BAND = list(BAND)


def main() -> None:
    if not os.path.isdir(SF10_DIR):
        sys.exit(f"missing {SF10_DIR}: run python tools/gen_scale_data.py --sf10")
    if "--only" in sys.argv:
        # Re-measure a subset (e.g. after a fixture or plan fix); rows
        # not re-run keep their previous values from SCALING_SF10.json.
        keep = set(sys.argv[sys.argv.index("--only") + 1].split(","))
        BAND[:] = [b for b in BAND if b[0] in keep]
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

    from tansu_spark.harness import release, timed
    from tansu_spark.queries import QUERIES
    from tansu_spark.session import get_spark

    spark = get_spark(app_name="tansu-scale-sweep-sf10")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    def wall(name: str, sf_dir: str) -> float:
        release(spark)
        cancel = threading.Timer(WATCHDOG_S, sc.cancelAllJobs)
        cancel.start()
        try:
            return timed(
                spark, name, lambda: QUERIES[name](spark, sf_dir).collect()
            )[0]
        finally:
            cancel.cancel()

    # Calibration (bench.py conventions): scan control at sf0.1 + loadavg.
    load_start = os.getloadavg()[0]
    QUERIES["tpch_q6_forecast_revenue"](spark, "/root/testdata/sf0.1").collect()
    scan_control = wall("tpch_q6_forecast_revenue", "/root/testdata/sf0.1")

    rows: list[dict] = []
    for name, why in BAND:
        s1 = wall(name, SF1_DIR)
        print(f"{name}: sf1 {s1:.2f}s", flush=True)
        try:
            s10 = wall(name, SF10_DIR)
            status = "ok" if s10 < WATCHDOG_S else "over"
        except Exception as exc:  # watchdog cancel surfaces here
            s10, status = float("nan"), f"TIMEOUT>{WATCHDOG_S:.0f}s ({exc})"
        ratio = s10 / s1 if s1 and s10 == s10 else float("nan")
        print(f"{name}: sf10 {s10:.2f}s  d3 {ratio:.2f}x  [{why}]", flush=True)
        rows.append(
            {"query": name, "why": why, "sf1_s": round(s1, 2),
             "sf10_s": round(s10, 2), "d3_ratio": round(ratio, 2),
             "status": status}
        )

    if "--only" in sys.argv and os.path.exists(OUT_JSON):
        old = {r["query"]: r for r in json.load(open(OUT_JSON))["rows"]}
        old.update({r["query"]: r for r in rows})
        rows = [old[q] for q, _ in _FULL_BAND if q in old]

    art = {
        "rows": rows,
        "calibration": {
            "scan_control": "tpch_q6_forecast_revenue@sf0.1",
            "scan_control_s": round(scan_control, 3),
            "load_avg_start": load_start,
            "load_avg_end": os.getloadavg()[0],
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "watchdog_s": WATCHDOG_S,
        },
    }
    with open(OUT_JSON, "w") as f:
        json.dump(art, f, indent=1, sort_keys=True)
    print(f"wrote {OUT_JSON}")
    _splice(art)


_FINDINGS = [
    "Third-decade findings (r10, both diagnosed in-round):",
    "",
    "- **Unsplittable-fixture artifact (FIXED)**: the first sf10 sweep",
    "  put the whole IVF/PQ/power-iteration family at 8.5-10.2x with a",
    "  single-straggler task profile. Cluster occupancy was BALANCED",
    "  (max 7.2% of 16 clusters), so not assignment skew; the cause was",
    "  the FIXTURE: pyarrow had written embeddings.parquet as ONE row",
    "  group at every scale, and a single row group is unsplittable —",
    "  every scan-heavy corpus stage ran in ONE task no matter the core",
    "  count. With 5000-row groups (gen_scale_data.py now pins",
    "  row_group_size; a real 10x corpus arrives as many files/row",
    "  groups): diagnostic re-runs dropped sim_kmeans 503.9->48.0s,",
    "  ivfpq_seeded 190.5->49.0s, ivfpq_residual 206.8->53.4s,",
    "  power_iteration 202.0->49.1s at sf10, and the final same-session",
    "  re-measure (table below, sf1 fixture also re-laid-out) lands the",
    "  family at d3 1.09-1.71x — kmeans 26.5s at sf10. The 100 TB lesson",
    "  is DATA LAYOUT, not plans: scan parallelism = min(cores, row",
    "  groups x files), so writer row-group/file sizing is a first-class",
    "  scale knob. The MAIN table above was also re-swept on the",
    "  re-laid-out sf1 fixture (kmeans d2 7.35x -> 3.69x); the",
    "  'second-decade context' labels below keep the SELECTION-time",
    "  ratios that put each entry in this band.",
    "- **text_rake_phrases 10.64x**: stage attribution at sf10 shows",
    "  every grain EXACTLY 10.0x (ph 210,070 -> 2,100,700; pw 2,529,020",
    "  -> 25,290,200; ws/ps likewise) — the dataflow is linear; the wall",
    "  overage is fixed-32-partition shuffle spill at sf10 volumes. The",
    "  same query at 128 shuffle partitions: 227.4 -> 152.2s = 7.1x,",
    "  exactly its second-decade ratio. On a real cluster",
    "  spark.sql.shuffle.partitions scales with the estate (AQE",
    "  coalesces downward); the committed row keeps the 32-partition",
    "  number because the sweep holds config constant across decades.",
]


def _splice(art: dict) -> None:
    """(Re)write the SCALING.md third-decade section from the artifact
    (also reachable standalone via --resplice, no re-measuring)."""
    cal = art["calibration"]
    md = open(SCALING_MD).read()
    if SECTION_MARK in md:
        head, rest = md.split(SECTION_MARK, 1)
        nxt = rest.find("\n## ")
        md = head + (rest[nxt + 1 :] if nxt >= 0 else "")
    lines = [
        SECTION_MARK,
        "",
        "Generated by `python tools/scale_sweep_sf10.py` against",
        "`testdata_big/sf10` (100 PERMUTATION-ciphered key-strided shards",
        "of sf0.1 — `gen_scale_data.py --sf10`; a shift cipher's 26 keys",
        "would collide across 100 copies and plant phantom cross-shard",
        "dups). sf1 is re-measured in the same session/JVM so the d3",
        "ratio never spans benchmark windows. For a linear query the",
        "per-decade ratio RISES toward 10x as fixed cost washes out, so",
        "the prediction tested here is d3 <= ~10x for every 6-10x-band",
        "member; >10x at this scale is a real superlinear term. Span",
        "covered: sf0.01 -> sf10 = 1000x.",
        "",
        f"Calibration: scan control {cal['scan_control_s']:.3f}s"
        f" (r1 anchor 0.41s), load {cal['load_avg_start']:.2f} ->"
        f" {cal['load_avg_end']:.2f}, driver {cal['driver_mem']}.",
        "",
    ] + _FINDINGS + [
        "",
        "| query | sf1 s | sf10 s | 10/1 | second-decade context |",
        "|---|---|---|---|---|",
    ]
    for r in art["rows"]:
        lines.append(
            f"| {r['query']} | {r['sf1_s']} | {r['sf10_s']} |"
            f" {r['d3_ratio']}x | {r['why']} |"
        )
    lines.append("")
    md = md.rstrip("\n") + "\n\n" + "\n".join(lines)
    with open(SCALING_MD, "w") as f:
        f.write(md)
    print(f"updated {SCALING_MD}")


if __name__ == "__main__":
    if "--resplice" in sys.argv:
        _splice(json.load(open(OUT_JSON)))
    else:
        main()
