"""Per-layer metrics of one traced pass.

Each metric is named ``<layer>.<what>`` after the package module it
measures (``session`` is the Spark session and JVM execution that
``tansu_spark.session`` builds) and is emitted on every workload; a
workload that bypasses a layer reports 0 for it. Next to each layer, the
end-to-end metric (and workload) it should move:

- broker, registry -> ``op_p50_ms`` on ingest (produce and fetch are in
  every cycle);
- lake, streaming -> ``op_p50_ms`` on ingest (``lake.lag_p50_ms`` is the
  produce-to-readable part of a cycle), ``pass_s`` on operators;
  ``lake.compact.busy_s`` -> ``pass_s`` on ingest (compaction stalls the
  loop once a pass);
- queries, session.jobs, materialize -> ``pass_s`` on operators;
- session task times and shuffle bytes -> ``op_p50_ms`` on analytics;
- session.failed_tasks -> the failed-op count on every workload;
- session.peak_rss_mb: the Python process, JVM and Python workers' joint peak
  resident memory. JVM heap sizing makes it vary by a quarter between
  runs of the same code, too much for a gated end-to-end metric.
"""

from __future__ import annotations

import time

from perfbench import inputs, tracing

_S, _MS, _N, _R, _B = "s", "ms", "count", "ratio", "bytes"
_STREAM_PHASES = (
    "addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset",
    "triggerExecution",
)

# name -> (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    "broker.produce.calls": (_N, "lower"),
    "broker.produce.busy_s": (_S, "lower"),
    "broker.produce.p50_ms": (_MS, "lower"),
    "broker.fetch.busy_s": (_S, "lower"),
    "broker.fetch.p50_ms": (_MS, "lower"),
    "broker.commit_offsets.busy_s": (_S, "lower"),
    "broker.segment_files": (_N, "lower"),
    "broker.bytes_per_user_byte": (_R, "lower"),
    "broker.records_per_s": ("1/s", "higher"),
    "registry.validate.calls": (_N, "lower"),
    "registry.validate.busy_s": (_S, "lower"),
    "lake.store.calls": (_N, "lower"),
    "lake.store.busy_s": (_S, "lower"),
    "lake.store.rows": (_N, "higher"),
    "lake.store.useful_ratio": (_R, "higher"),
    "lake.compact.busy_s": (_S, "lower"),
    "lake.bytes_per_user_byte": (_R, "lower"),
    "lake.lag_p50_ms": (_MS, "lower"),
    "streaming.batches": (_N, "lower"),
    "streaming.useful_batch_ratio": (_R, "higher"),
    **{f"streaming.{p}_ms": (_MS, "lower") for p in _STREAM_PHASES},
    "streaming.sink_run.self_s": (_S, "lower"),
    "queries.build_s": (_S, "lower"),
    "queries.collect_s": (_S, "lower"),
    "queries.driver_only_s": (_S, "lower"),
    "queries.build.self_s": (_S, "lower"),
    "queries.collect.self_s": (_S, "lower"),
    **{
        f"queries.{q}.{m}": (u, "lower")
        for q in inputs.ANALYTICS_QUERIES + inputs.OPERATOR_QUERIES
        for m, u in (("wall_s", _S), ("jobs", _N), ("driver_only_s", _S))
    },
    "session.jobs": (_N, "lower"),
    "session.jobs_in_groups": (_N, "lower"),
    "session.driver_only_s": (_S, "lower"),
    "session.task_run_s": (_S, "lower"),
    "session.task_cpu_s": (_S, "lower"),
    "session.task_wait_s": (_S, "lower"),
    "session.shuffle_write_bytes": (_B, "lower"),
    "session.failed_tasks": (_N, "lower"),
    "session.peak_rss_mb": ("MB", "lower"),
    "materialize.persisted_rdds": (_N, "lower"),
    "materialize.persisted_bytes": (_B, "lower"),
    "materialize.release_s": (_S, "lower"),
    "trace.spans": (_N, "lower"),
    "trace.op.self_s": (_S, "lower"),
    "trace.overhead_pass_s": (_S, "lower"),
    "trace.overhead_op_p50_ms": (_MS, "lower"),
}


def _histogram_delta(after: dict, before: dict, name: str) -> tuple[int, float]:
    a, b = after.get(name, {}), before.get(name, {})
    calls = a.get("count", 0) - b.get("count", 0)
    return calls, (a.get("total_ms", 0.0) - b.get("total_ms", 0.0)) / 1e3


def traced_pass(wl, spark, untraced: dict) -> tuple[dict, list[dict], tracing.Tracer]:
    """Run one pass of ``wl`` with tracing on and return (per-layer
    metrics, the pass's op records, the tracer holding its spans).
    ``untraced`` holds the run's untraced ``pass_s`` and ``op_p50_ms``."""
    from tansu_spark import metrics as M

    tracer = tracing.Tracer()
    wl.use_tracer(tracer)
    rest = tracing.SparkRest(spark)
    progress: list[dict] = []
    listener = tracing.progress_listener(spark, progress)
    snap0 = M.snapshot()
    w0 = time.time()
    secs, recs = wl.run_pass()
    w1 = time.time()
    snap1 = M.snapshot()
    rest.settle()
    tracing.drain(progress)
    spark.streams.removeListener(listener)
    jobs = [j for j in rest.jobs() if w0 <= j["start"] <= w1]
    stages = [s for s in rest.stages() if w0 <= s["start"] <= w1]
    persisted_rdds, persisted_bytes = rest.persisted()
    ok = [r for r in recs if "ms" in r]

    # Spark jobs become child spans of the innermost span they started in.
    own = list(tracer.spans)
    for j in jobs:
        inside = [s for s in own if s["start"] <= j["start"] <= s["end"]]
        parent = max(inside, key=lambda s: s["start"])["id"] if inside else None
        tracer.add("spark.job", j["start"], j["end"], parent)
    self_s = tracer.self_times()
    job_iv = [(j["start"], j["end"]) for j in jobs]
    op_spans = [s for s in own if s["name"].startswith("op.")]

    def driver_only(spans) -> float:
        return sum(
            (s["end"] - s["start"]) - tracing.union_seconds(job_iv, s["start"], s["end"])
            for s in spans
        )

    out = {k: 0.0 for k in PER_LAYER}
    for name in ("broker.produce", "broker.fetch", "broker.commit_offsets", "lake.compact"):
        calls, busy = tracer.busy(name)
        out[f"{name}.busy_s"] = busy
        if name == "broker.produce":
            out["broker.produce.calls"] = calls
    details = wl.details(recs)
    for metric, key in (
        ("broker.produce.p50_ms", "produce_p50_ms"),
        ("broker.fetch.p50_ms", "fetch_p50_ms"),
        ("lake.lag_p50_ms", "lake_lag_p50_ms"),
        ("broker.records_per_s", "records_per_s"),
    ):
        out[metric] = details.get(key, 0.0)
    out["registry.validate.calls"], out["registry.validate.busy_s"] = _histogram_delta(
        snap1, snap0, "registry_validation_duration")
    out["lake.store.calls"], out["lake.store.busy_s"] = _histogram_delta(
        snap1, snap0, "lakehouse_store_duration")
    stores = wl.traced_stores()
    out["lake.store.rows"] = sum(stores)
    out["lake.store.useful_ratio"] = (
        sum(1 for n in stores if n) / len(stores) if stores else 0.0)
    disk = wl.disk_facts()
    if disk:
        out["broker.segment_files"] = disk["segment_files"]
        out["broker.bytes_per_user_byte"] = disk["segment_bytes_per_user_byte"]
        out["lake.bytes_per_user_byte"] = disk["lake_bytes_per_user_byte"]

    out["streaming.batches"] = len(progress)
    out["streaming.useful_batch_ratio"] = (
        sum(1 for p in progress if p["rows"] or p["moved"]) / len(progress) if progress else 0.0)
    for phase in _STREAM_PHASES:
        out[f"streaming.{phase}_ms"] = sum(p["duration_ms"].get(phase, 0) for p in progress)
    out["streaming.sink_run.self_s"] = self_s.get("streaming.sink_run", 0.0)

    queries = [s for s in own if s["name"] == "op.query"]
    out["queries.build_s"] = tracer.busy("queries.build")[1]
    out["queries.collect_s"] = tracer.busy("queries.collect")[1]
    out["queries.driver_only_s"] = driver_only(queries)
    out["queries.build.self_s"] = self_s.get("queries.build", 0.0)
    out["queries.collect.self_s"] = self_s.get("queries.collect", 0.0)
    for s in queries:
        q = s["query"]
        out[f"queries.{q}.wall_s"] = s["end"] - s["start"]
        out[f"queries.{q}.jobs"] = sum(1 for a, _ in job_iv if s["start"] <= a <= s["end"])
        out[f"queries.{q}.driver_only_s"] = driver_only([s])

    out["session.jobs"] = len(jobs)
    out["session.jobs_in_groups"] = sum(1 for j in jobs if (j["group"] or "").startswith("op"))
    out["session.driver_only_s"] = driver_only(op_spans)
    out["session.task_run_s"] = sum(s["run_s"] for s in stages)
    out["session.task_cpu_s"] = sum(s["cpu_s"] for s in stages)
    out["session.task_wait_s"] = out["session.task_run_s"] - out["session.task_cpu_s"]
    out["session.shuffle_write_bytes"] = sum(s["shuffle_write_bytes"] for s in stages)
    out["session.failed_tasks"] = sum(s["failed_tasks"] for s in stages)
    out["session.peak_rss_mb"] = tracing.peak_rss_mb()
    out["materialize.persisted_rdds"] = persisted_rdds
    out["materialize.persisted_bytes"] = persisted_bytes
    out["materialize.release_s"] = tracer.busy("materialize.release")[1]

    out["trace.spans"] = len(tracer.spans)
    out["trace.op.self_s"] = sum(v for k, v in self_s.items() if k.startswith("op."))
    out["trace.overhead_pass_s"] = secs - untraced["pass_s"]
    out["trace.overhead_op_p50_ms"] = tracing.median([r["ms"] for r in ok]) - untraced["op_p50_ms"]
    return out, recs, tracer
