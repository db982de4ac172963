"""Benchmark for tansu_spark: three closed-loop workloads (ingest,
analytics, operators) driven through the package's public API, with an
optional traced mode that reports per-layer metrics. Entry point:
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>``."""
