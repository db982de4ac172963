#!/usr/bin/env python3
"""Run one benchmark workload against tansu_spark and print its metrics.

    python3 perfbench/run.py --workload ingest|analytics|operators|all \
        --seed N --seconds S --trace 0|1 [--data DIR]

Run from the repository root. A run makes its inputs from the seed, sets
up the program several times (timed; the median is ``setup_s``), warms
up untimed, then runs closed-loop passes until ``--seconds`` have
elapsed (at least one pass). Every op's output is checked; any failed op
makes the exit code 1.

stdout: one ``metric <name> <value> <unit>`` line per end-to-end metric
(``layer`` lines too with ``--trace 1``), then one JSON line with
``correct``, ``attempted``, ``failed`` and ``metrics``. The full record
(host facts, per-op timings, and with ``--trace 1`` the spans) is
written under ``.perfbench/out/``. Everything a run writes stays under
``.perfbench/`` in the repository root.

``--trace 1`` adds one traced pass after the untraced ones; its ``layer``
lines and JSON ``metrics`` are the per-layer metrics of that pass, plus
the tracing overhead (traced pass minus the untraced median).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
SETUP_REPEATS = 5
CPUS = min(4, len(os.sched_getaffinity(0)))

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "pass_s": "s",
}


def _isolate_temp() -> None:
    """Point every temporary and Spark local directory into STATE before
    the JVM starts, so a run writes nothing outside the checkout."""
    tmp = os.path.join(STATE, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp


def _session(app: str):
    from tansu_spark import get_spark

    spark = get_spark(
        app_name=app,
        cpus=CPUS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _setup(wl):
    """Build the session and the workload's objects on it; return the
    session and the seconds taken, through one trivial job."""
    wl.reset()
    t0 = time.perf_counter()
    spark = _session("perfbench")
    wl.setup(spark)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def run_workload(name: str, seed: int, seconds: float, trace: bool, data: str) -> dict:
    from perfbench import inputs, tracing, workloads

    work_dir = os.path.join(STATE, "run", f"{name}-{os.getpid()}")
    if name == "ingest":
        wl = workloads.Ingest(seed, work_dir, tracing.NullTracer())
    elif name == "analytics":
        sf = inputs.tpch_replica(data, os.path.join(STATE, "cache"))
        wl = workloads.Analytics(seed, work_dir, tracing.NullTracer(), sf)
    else:
        wl = workloads.Operators(seed, work_dir, tracing.NullTracer(), data)
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0

    # Set-up, repeated: the first includes the JVM launch, the rest
    # rebuild the session on the running JVM.
    spark, launch_s = _setup(wl)
    setups = []
    for _ in range(SETUP_REPEATS - 1):
        spark.stop()
        spark, secs = _setup(wl)
        setups.append(secs)
    facts = tracing.host_facts(spark)

    records: list[dict] = []
    records += wl.warm_up()
    passes, ops = [], []
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < seconds:
        secs, recs = wl.run_pass()
        passes.append(secs)
        ops += recs
    records += ops

    result = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
        "host": facts, "prepare_s": prepare_s, "jvm_launch_s": launch_s, "setup_runs_s": setups,
        "passes_s": passes,
    }
    metrics = {
        "setup_s": tracing.median(setups),
        "op_p50_ms": tracing.median([r["ms"] for r in ops if "ms" in r]),
        "pass_s": tracing.median(passes),
    }
    details = wl.details(ops)

    layers = {}
    if trace:
        from perfbench.layers import traced_pass

        layers, trace_recs, tracer = traced_pass(wl, spark, metrics)
        records += trace_recs
        result["spans"] = os.path.relpath(_write_spans(name, seed, tracer), ROOT)

    # The end-of-run checks count as one more op.
    try:
        final = wl.final_checks()
    except Exception as e:  # a raised check is a failure, not a crash
        final = [f"final checks raised {e!r}"]
    errors = [r["error"] for r in records if "error" in r] + final
    details["peak_rss_mb"] = tracing.peak_rss_mb()
    facts["load_avg_end"] = [round(x, 2) for x in os.getloadavg()]
    _stop(spark)
    shutil.rmtree(work_dir, ignore_errors=True)

    attempted = len(records) + 1
    failed = sum(1 for r in records if "error" in r) + bool(final)
    details["error_rate"] = failed / attempted
    result.update(metrics=metrics, details=details, layers=layers, errors=errors,
                  attempted=attempted, failed=failed, ops=records)
    return result


def _write_spans(name: str, seed: int, tracer) -> str:
    out = os.path.join(STATE, "out", f"{name}-s{seed}-spans-{os.getpid()}.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        for s in tracer.spans:
            f.write(json.dumps(s) + "\n")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "analytics", "operators", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", default=None,
                    help="directory of source tables (default: the shipped sf0.01)")
    args = ap.parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # str hashes (set/dict order) must not differ between runs; the
        # interpreter reads this only at start, so restart in place.
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]])

    sys.path.insert(0, ROOT)
    import tansu_spark  # noqa: F401  (fails fast outside a full checkout)

    from perfbench import inputs

    data = os.path.abspath(args.data) if args.data else inputs.SOURCE_DIR
    names = ["ingest", "analytics", "operators"] if args.workload == "all" else [args.workload]
    _isolate_temp()
    try:
        results = [run_workload(n, args.seed, args.seconds, bool(args.trace), data) for n in names]
    finally:
        shutil.rmtree(os.environ["TMPDIR"], ignore_errors=True)

    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    summary: dict = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    from perfbench.layers import PER_LAYER

    for res in results:
        prefix = "" if len(results) == 1 else res["workload"] + "."
        path = os.path.join(out_dir, f"{res['workload']}-s{args.seed}-t{args.trace}-{os.getpid()}.json")
        with open(path, "w") as f:
            json.dump(res, f, indent=1, default=str)
        for k, v in res["host"].items():
            print(f"host {prefix}{k} {v}")
        for k, v in res["details"].items():
            print(f"detail {prefix}{k} {v:.6g}")
        for e in res["errors"]:
            print(f"error {prefix}{e}", file=sys.stderr)
        for k, unit in END_TO_END.items():
            print(f"metric {prefix}{k} {res['metrics'][k]:.6g} {unit}")
        if args.trace:
            chosen = {k: (res["layers"][k], u) for k, (u, _) in PER_LAYER.items()}
            for k, (v, unit) in chosen.items():
                print(f"layer {prefix}{k} {v:.6g} {unit}")
        else:
            chosen = {k: (res["metrics"][k], u) for k, u in END_TO_END.items()}
        for k, (v, unit) in chosen.items():
            summary["metrics"][prefix + k] = {"value": v, "unit": unit}
        summary["correct"] &= not res["errors"]
        summary["attempted"] += res["attempted"]
        summary["failed"] += res["failed"]
    print(json.dumps(summary), flush=True)
    return 0 if summary["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
