"""Round-10 optimization profiler: bench-identical timing + job/stage
counts + explain("formatted") capture for a SUBSET of queries.

Usage:
  python tools/opt_profile.py q1 q2 ...            # time + jobs, sf0.1
  python tools/opt_profile.py --plans DIR SUFFIX q1 q2 ...
      also writes DIR/<q>_<SUFFIX>.txt explain("formatted") snapshots

Timing methodology is bench.py's exactly: wall time of plan + execute +
collect at $SPARK_GRAFT_SF_DIR (default sf0.1), released and timed by
the same tansu_spark/harness.py calls, job counts via job-group
tagging. Three repeats, min reported (we optimize plan shape, not host
noise).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    args = sys.argv[1:]
    plans_dir = None
    suffix = None
    if args and args[0] == "--plans":
        plans_dir, suffix = args[1], args[2]
        args = args[3:]
    repeats = int(os.environ.get("OPT_PROFILE_REPEATS", "3"))

    from tansu_spark.harness import release, timed
    from tansu_spark.queries import QUERIES
    from tansu_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="opt-profile")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm up JVM + parquet footers like bench.py does.
    QUERIES["tpch_q6_forecast_revenue"](spark, sf_dir).collect()

    out: dict[str, dict] = {}
    for name in args:
        if name not in QUERIES:
            print(f"!! unknown query {name}", flush=True)
            continue
        if plans_dir:
            df = QUERIES[name](spark, sf_dir)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            os.makedirs(plans_dir, exist_ok=True)
            with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as fh:
                fh.write(plan)
        best, jobs = float("inf"), None
        for _ in range(repeats):
            release(spark)
            sec, nj = timed(
                spark, name, lambda: QUERIES[name](spark, sf_dir).collect()
            )
            if sec < best:
                best, jobs = sec, nj
        out[name] = {"sec": round(best, 3), "jobs": jobs}
        print(f"{best:8.3f}s  {jobs:4d} jobs  {name}", flush=True)
    print(json.dumps(out, sort_keys=True), flush=True)


if __name__ == "__main__":
    main()
