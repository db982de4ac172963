"""Lake sink + maintenance tests: config-driven materialization, schema
migration, incremental store, compaction, Z-order, retention, vacuum."""

from __future__ import annotations

import os

import duckdb
import pytest

from pyspark.sql import functions as F

from tansu_spark.broker import Broker
from tansu_spark.lake import LakeSink, compact_table, vacuum, zorder_table
from tansu_spark.lake.maintain import Maintainer, compact_topic, retention_sweep
from tansu_spark.registry import SchemaRegistry

SCHEMA_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "schemas")


@pytest.fixture()
def stack(spark, tmp_path):
    broker = Broker(spark, str(tmp_path / "store"), registry=SchemaRegistry(SCHEMA_DIR))
    sink = LakeSink(broker, str(tmp_path / "lake"))
    return broker, sink


def _produce_people(broker, n, start=0):
    broker.produce_rows(
        "person",
        [
            {
                "key": f"{i % 50:03d}-45-6789",
                "value": f'{{"firstName":"f{i}","lastName":"l{i}","age":{i % 90}}}',
            }
            for i in range(start, start + n)
        ],
    )


def test_store_partitioned_generated_normalized(stack, tmp_path):
    broker, sink = stack
    broker.create_topic(
        "person",
        partitions=2,
        config={
            "tansu.lake.partition": "meta.year",
            "tansu.lake.generate.age_band": "cast(floor(value.age / 10) * 10 as int)",
            "tansu.lake.normalize": "true",
            "tansu.lake.normalize.separator": "_",
        },
    )
    _produce_people(broker, 20)
    assert sink.store("person") == 20
    lake = sink.read("person")
    # normalized names, generated column, hive partition col
    assert "value_firstName" in lake.columns
    assert "age_band" in lake.columns
    assert "meta_year" in lake.columns
    assert lake.count() == 20
    # partition directory layout on disk
    tdir = sink.table_dir("person")
    assert any(e.startswith("meta_year=") for e in os.listdir(tdir))
    # DuckDB reads the lake (reference e2e oracle, README.md:163)
    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{tdir}/meta_year=*/*.parquet')"
    ).fetchone()[0]
    assert n == 20


def test_incremental_store_and_sink_toggle(stack):
    broker, sink = stack
    broker.create_topic("person", partitions=1)
    _produce_people(broker, 5)
    assert sink.store("person") == 5
    assert sink.store("person") == 0  # nothing new
    _produce_people(broker, 3, start=5)
    assert sink.store("person") == 3
    assert sink.read("person").count() == 8
    # tansu.lake.sink=false → no materialization
    broker.create_topic("quiet", partitions=1, config={"tansu.lake.sink": "false"})
    broker.produce_rows("quiet", [{"key": "a", "value": "b"}])
    assert sink.store("quiet") == 0


def test_schema_migration_add_only(stack, spark):
    broker, sink = stack
    broker.create_topic("person", partitions=1)
    _produce_people(broker, 2)
    sink.store("person")
    # add-only: a new column in later files is fine via mergeSchema
    sink._migrate_schema("person", spark.range(1).select(F.lit(1).alias("extra")).schema)
    # type change is rejected
    with pytest.raises(ValueError, match="add-only"):
        sink._migrate_schema(
            "person", spark.range(1).select(F.lit("s").alias("extra")).schema
        )


def test_compact_table_merges_small_files(stack, spark):
    broker, sink = stack
    broker.create_topic("person", partitions=1)
    for i in range(4):  # 4 produce calls → ≥4 files
        _produce_people(broker, 3, start=3 * i)
        sink.store("person")
    tdir = sink.table_dir("person")
    before = sum(f.endswith(".parquet") for f in os.listdir(tdir))
    assert before >= 4
    stats = compact_table(spark, tdir)
    after = sum(f.endswith(".parquet") for f in os.listdir(tdir))
    assert after == 1 and sum(stats.values()) == before - 1
    assert sink.read("person").count() == 12  # no rows lost


def test_zorder_rewrite_preserves_rows(stack, spark, sf_dir):
    broker, sink = stack
    broker.create_topic("person", partitions=1)
    _produce_people(broker, 40)
    sink.store("person")
    tdir = sink.table_dir("person")
    before = sink.read("person").count()
    zorder_table(spark, tdir, ["offset", "partition"], bits=4)
    after = sink.read("person")
    assert after.count() == before
    # rewrite kept every (partition, offset) pair exactly once
    assert after.select("partition", "offset").distinct().count() == before


def test_retention_and_log_compaction(stack, spark):
    import datetime, time

    broker, _ = stack
    old = datetime.datetime(2024, 1, 1)
    new = datetime.datetime.utcnow()
    broker.create_topic("t", partitions=1, config={"retention.ms": "86400000"})
    broker.produce_rows(
        "t",
        [{"key": "a", "value": "old1", "timestamp": old},
         {"key": "b", "value": "old2", "timestamp": old},
         {"key": "a", "value": "new1", "timestamp": new}],
    )
    assert retention_sweep(broker, "t") == 2
    assert broker.fetch("t").count() == 1
    assert broker.list_offsets("t", "earliest") == {0: 2}

    broker.create_topic("c", partitions=1, config={"cleanup.policy": "compact"})
    broker.produce_rows(
        "c", [{"key": "k1", "value": "v1"}, {"key": "k1", "value": "v2"},
              {"key": "k2", "value": "v3"}]
    )
    assert compact_topic(broker, "c") == 1
    rows = {r.key: r.value for r in broker.fetch("c").collect()}
    assert rows == {b"k1": b"v2", b"k2": b"v3"}  # latest-per-key survives


def test_maintainer_tick_overlap_protected(stack):
    broker, sink = stack
    broker.create_topic("person", partitions=1)
    _produce_people(broker, 4)
    sink.store("person")
    m = Maintainer(broker, sink)
    report = m.tick()
    assert "person" in report
    m._running = True  # simulate in-flight sweep
    assert m.tick() == {}  # skipped, per broker.rs:242-258


def test_vacuum_removes_stale_rewrite_dirs(stack, tmp_path):
    broker, sink = stack
    broker.create_topic("person", partitions=1)
    _produce_people(broker, 2)
    sink.store("person")
    tdir = sink.table_dir("person")
    stale = os.path.join(tdir, "_rewrite-deadbeef")
    os.makedirs(stale)
    os.utime(stale, (0, 0))
    assert vacuum(tdir) == 1
    assert not os.path.exists(stale)


def test_stats_pruned_read_skips_files(spark, tmp_path):
    """Range-sorted writes + stats manifest: a narrow predicate must scan
    strictly fewer files than the table holds, with results identical to
    the full-scan filter."""
    from tansu_spark.lake.stats import collect_stats, pruned_read, prune_files

    table = str(tmp_path / "tbl")
    # 4 range-disjoint files on `k` (what zorder/compaction produces).
    for lo in (0, 100, 200, 300):
        spark.range(lo, lo + 100).selectExpr(
            "id AS k", "id * 2 AS v"
        ).coalesce(1).write.mode("append").parquet(table)
    collect_stats(spark, table, ["k"])

    files, skipped = prune_files(table, {"k": (120, 180)})
    assert skipped == 3 and len(files) == 1

    got = pruned_read(spark, table, {"k": (120, 180)})
    assert len(got.inputFiles()) == 1
    expect = spark.read.parquet(table).filter("k between 120 and 180")
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in expect.collect()
    )

    # Disjoint predicate: zero files, schema-preserving empty frame.
    empty = pruned_read(spark, table, {"k": (1000, 2000)})
    assert empty.count() == 0 and empty.columns == ["k", "v"]


def test_stats_pruning_is_advisory_not_correctness(spark, tmp_path):
    """A file missing from the manifest is always scanned — a stale
    manifest can cost speed, never rows."""
    from tansu_spark.lake.stats import collect_stats, pruned_read

    table = str(tmp_path / "tbl2")
    spark.range(0, 50).selectExpr("id AS k").coalesce(1).write.mode(
        "append"
    ).parquet(table)
    collect_stats(spark, table, ["k"])
    # New data lands AFTER stats collection.
    spark.range(50, 100).selectExpr("id AS k").coalesce(1).write.mode(
        "append"
    ).parquet(table)
    got = pruned_read(spark, table, {"k": (60, 70)})
    assert sorted(r["k"] for r in got.collect()) == list(range(60, 71))


def test_maintainer_refreshes_stats_manifest(stack):
    from tansu_spark.lake.stats import collect_stats, load_stats

    broker, sink = stack
    broker.create_topic("person", partitions=1)
    _produce_people(broker, 10)
    sink.store("person")
    table = sink.table_dir("person")
    collect_stats(broker.spark, table, ["offset"])
    before = load_stats(table)["created_at"]
    Maintainer(broker, sink).tick()
    after = load_stats(table)["created_at"]
    assert after > before  # manifest rebuilt over the rewritten files


def _append_range(spark, table, lo, hi):
    spark.range(lo, hi).selectExpr("id AS k", "id * 2 AS v").coalesce(
        1
    ).write.mode("append").parquet(table)


def test_collect_stats_is_jobless_and_incremental(spark, tmp_path, monkeypatch):
    """The refresh is footer reads on the driver (no Spark job); a second
    refresh reads only files the manifest lacks and drops the entries of
    files a rewrite removed."""
    from tansu_spark import harness
    from tansu_spark.lake import stats
    from tansu_spark.lake.stats import collect_stats, live_files, load_stats

    table = str(tmp_path / "tbl")
    for lo in (0, 100, 200):
        _append_range(spark, table, lo, lo + 100)
    _, n_jobs = harness.timed(
        spark, "collect_stats", lambda: collect_stats(spark, table, ["k"])
    )
    assert n_jobs == 0
    assert sorted(load_stats(table)["files"]) == live_files(table)

    reads = []
    real = stats.footer_stats
    monkeypatch.setattr(
        stats, "footer_stats", lambda p: reads.append(p) or real(p)
    )
    before = set(live_files(table))
    _append_range(spark, table, 300, 400)
    collect_stats(spark, table, ["k"])
    (added,) = set(live_files(table)) - before
    assert reads == [os.path.join(table, added)]
    assert load_stats(table)["files"][added]["k"] == [300, 399]

    reads.clear()
    compact_table(spark, table)  # 4 files -> 1, the old ones deleted
    (merged,) = live_files(table)
    collect_stats(spark, table, ["k"])
    assert reads == [os.path.join(table, merged)]
    assert load_stats(table)["files"] == {merged: {"k": [0, 399]}}


def test_footer_timestamps_are_never_pruned(spark, tmp_path):
    """Footer timestamps render as ISO-8601 strings that do not order like
    Spark's timestamp strings: the manifest keeps no stats for them, so a
    string predicate reads every file rather than dropping matching rows."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tansu_spark.lake.stats import collect_stats, load_stats, pruned_read

    table = tmp_path / "tbl"
    table.mkdir()
    t0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    for i in range(2):
        ts = [t0 + datetime.timedelta(hours=4 * i + h) for h in range(4)]
        pq.write_table(
            pa.table({"ts": pa.array(ts, pa.timestamp("us", tz="UTC"))}),
            str(table / f"part-{i}.parquet"),
        )
    collect_stats(spark, str(table), ["ts"])
    assert all(
        st["ts"] == [None, None] for st in load_stats(str(table))["files"].values()
    )
    pred = {"ts": (None, "2024-01-01 05:00:00")}
    got = pruned_read(spark, str(table), pred)
    expect = spark.read.parquet(str(table)).filter("ts <= '2024-01-01 05:00:00'")
    assert len(got.inputFiles()) == 2
    assert sorted(got.collect()) == sorted(expect.collect())


def test_live_files_matches_spark_listing(spark, tmp_path):
    """The index lists exactly the files Spark's file index reads: no
    history, rewrite, staging or delta-log parquet, no hidden dirs, no
    _SUCCESS or .crc siblings."""
    import glob
    import shutil
    import urllib.parse

    from tansu_spark.lake.stats import live_files

    table = str(tmp_path / "tbl")
    spark.range(0, 40).selectExpr("id AS k", "id % 2 AS p").write.partitionBy(
        "p"
    ).parquet(table)
    part = glob.glob(os.path.join(table, "p=0", "*.parquet"))[0]
    for sub in ("_history/b1/p=0", "_rewrite-x", "_staging/partition=0",
                "_delta_log", ".hidden"):
        os.makedirs(os.path.join(table, sub))
        shutil.copy(part, os.path.join(table, sub, "x.parquet"))
    assert os.path.exists(os.path.join(table, "_SUCCESS"))
    assert glob.glob(os.path.join(table, "p=0", ".*.crc"))

    spark_files = sorted(
        os.path.relpath(urllib.parse.unquote(urllib.parse.urlparse(u).path), table)
        for u in spark.read.parquet(table).inputFiles()
    )
    assert live_files(table) == spark_files
    assert len(spark_files) == len(glob.glob(os.path.join(table, "p=*", "*.parquet")))


def test_pruned_read_after_compaction_skips_history(spark, tmp_path):
    """A snapshot-versioned table relocates compacted-away files into
    _history/; the pruned read must not read them back (it used to return
    every matching row twice), nor an exported _delta_log checkpoint."""
    from tansu_spark.lake.delta_log import export_delta_log, write_checkpoint
    from tansu_spark.lake.snapshots import commit_snapshot
    from tansu_spark.lake.stats import collect_stats, load_stats, pruned_read

    table = str(tmp_path / "tbl")
    for lo in (0, 100, 200, 300):
        _append_range(spark, table, lo, lo + 100)
        commit_snapshot(table)
    compact_table(spark, table)
    assert os.listdir(os.path.join(table, "_history"))
    for lo in (400, 500):  # files the narrow predicate can skip
        _append_range(spark, table, lo, lo + 100)
        commit_snapshot(table)

    def check():
        collect_stats(spark, table, ["k"])
        assert not any(
            rel.startswith("_") for rel in load_stats(table)["files"]
        )
        for lo, hi in ((120, 180), (450, 460)):
            got = pruned_read(spark, table, {"k": (lo, hi)})
            assert not any(
                "/_history/" in f or "/_delta_log/" in f for f in got.inputFiles()
            )
            assert len(got.inputFiles()) == 1
            expect = spark.read.parquet(table).filter(f"k between {lo} and {hi}")
            assert sorted(r["k"] for r in got.collect()) == sorted(
                r["k"] for r in expect.collect()
            ) == list(range(lo, hi + 1))

    check()
    export_delta_log(spark, table)
    write_checkpoint(table)
    assert any(
        n.endswith(".checkpoint.parquet")
        for n in os.listdir(os.path.join(table, "_delta_log"))
    )
    check()


def test_partition_transforms_route_files(spark, tmp_path):
    """Hidden partitioning: bucket/day transforms in tansu.lake.partition
    route files into derived directories; readers reconstruct the routing
    from the data alone (transform is deterministic)."""
    import os

    from tansu_spark.broker import Broker
    from tansu_spark.lake.sink import LakeSink, _split_specs

    assert _split_specs("bucket(8, key), day(ts), region") == [
        "bucket(8, key)", "day(ts)", "region",
    ]

    broker = Broker(spark, str(tmp_path / "store"))
    broker.create_topic(
        "b",
        partitions=1,
        config={"tansu.lake.partition": "bucket(4, key)"},
    )
    broker.produce_rows("b", [{"key": f"k{i}", "value": f"v{i}"} for i in range(20)])
    sink = LakeSink(broker, str(tmp_path / "lake"))
    assert sink.store("b") == 20

    table = sink.table_dir("b")
    dirs = sorted(d for d in os.listdir(table) if d.startswith("key_bucket="))
    assert 1 < len(dirs) <= 4, dirs
    back = spark.read.parquet(table)
    assert back.count() == 20
    # the routing is reproducible from the data: recompute and compare
    got = {(bytes(r["key"]).decode(), r["key_bucket"]) for r in back.collect()}
    from tansu_spark.functions.sampling import hash_bucket
    from pyspark.sql import functions as F

    expect_df = spark.createDataFrame([(f"k{i}",) for i in range(20)], "key string")
    nib8 = F.substring(hash_bucket("key", 0), 1, 8)
    expect = {
        (r["key"], r["b"])
        for r in expect_df.select(
            "key", (F.conv(nib8, 16, 10).cast("long") % 4).cast("int").alias("b")
        ).collect()
    }
    assert got == expect


def test_truncate_transform_negative_numbers(spark):
    """Iceberg truncate floors toward -inf for negatives: -7 at width 10
    lands in band -10, not 0."""
    from tansu_spark.lake.sink import LakeSink

    df = spark.createDataFrame([(-7,), (-10,), (3,), (19,)], "v long")
    col, alias = LakeSink.partition_transform("truncate(10, v)", df)
    got = {r["v"]: r["t"] for r in df.select("v", col.alias("t")).collect()}
    assert got == {-7: -10, -10: -10, 3: 0, 19: 10}
    assert alias == "v_trunc"


def test_lake_runtime_gate_skip_report(stack):
    """VERDICT r2 #6: the Delta/Iceberg 'partial' status (SURVEY §2.1
    S4/S5) as a machine check — in THIS container the gate must raise
    cleanly and name every missing piece; with the runtimes installed
    the same test self-reports the gate as open (skip) and the sink
    writes natively."""
    from tansu_spark.lake.sink import (
        LakeRuntimeUnavailable,
        lake_runtime_status,
        require_lake_runtime,
    )

    broker, sink = stack
    spark = sink.spark

    ok, missing = lake_runtime_status(spark, "parquet")
    assert ok and missing == []  # parquet is Spark-native, never gated

    for fmt, expect_words in (
        ("delta", ["delta-spark", "DeltaSparkSessionExtension"]),
        ("iceberg", ["iceberg-spark-runtime", "SparkCatalog"]),
    ):
        ok, missing = lake_runtime_status(spark, fmt)
        if ok:
            pytest.skip(f"{fmt} runtime present in this environment — "
                        "gate open, native write path active")
        assert missing, fmt
        with pytest.raises(LakeRuntimeUnavailable) as ei:
            require_lake_runtime(spark, fmt)
        for word in expect_words:
            assert word in str(ei.value), (fmt, word, str(ei.value))

    # a topic configured for a gated format fails at store(), by name,
    # BEFORE writing anything
    broker.create_topic(
        "gated", config={"tansu.schema.validation": "false",
                          "tansu.lake.format": "delta"}
    )
    broker.produce_rows("gated", [{"key": "k", "value": "v"}])
    with pytest.raises(LakeRuntimeUnavailable):
        sink.store("gated")
    assert not os.path.exists(sink.table_dir("gated"))

    # unknown format names are rejected too
    ok, missing = lake_runtime_status(spark, "hudi")
    assert not ok and "unknown lake format" in missing[0]


def test_full_lifecycle_produce_validate_store_travel_maintain(stack, spark, tmp_path):
    """The reference's ONE composed lifecycle — produce → schema-validate
    → lake store → time travel → maintenance (pg.rs:760-991 +
    delta.rs:670-747) — exercised end-to-end through the public API in a
    single flow, with the DuckDB read-back oracle at the end. The stage
    queries each have their own tests; this catches cross-stage contract
    drift (e.g. a store() that breaks snapshots, a compaction that
    breaks time travel)."""
    broker, sink = stack
    from tansu_spark.lake.snapshots import load_manifest, read_snapshot

    # 1. schema-backed topic with generated columns + partitioning
    broker.create_topic(
        "person",
        partitions=1,
        config={
            "tansu.lake.partition": "meta.year",
            "tansu.lake.generate.age_band": "cast(floor(value.age / 10) * 10 as int)",
        },
    )

    # 2. validated produce (registry accepts), invalid batch rejected
    _produce_people(broker, 20)
    with pytest.raises(Exception):
        broker.produce_rows("person", [{"key": "bad", "value": "{notjson"}])
    assert broker.list_offsets("person", "latest") == {0: 20}  # reject left no gap

    # 3. first store -> snapshot v1
    n1 = sink.store("person")
    assert n1 == 20
    table = sink.table_dir("person")
    v_first = load_manifest(table)["versions"][-1]["v"]

    # 4. second batch, incremental store -> snapshot v2 with both batches
    _produce_people(broker, 15, start=20)
    assert sink.store("person") == 15
    assert sink.store("person") == 0  # exactly-once frontier
    assert sink.read("person").count() == 35

    # 5. time travel: the first snapshot still reads exactly batch one
    assert read_snapshot(spark, table, v_first).count() == 20

    # 6. maintenance: compaction rewrite preserves rows AND history
    compact_table(spark, table)
    assert sink.read("person").count() == 35
    assert read_snapshot(spark, table, v_first).count() == 20

    # 7. vacuum the relocated pre-compaction files past retention; the
    #    LIVE table is untouched
    vacuum(table, max_age_seconds=0.0)
    assert sink.read("person").count() == 35

    # 8. the end-to-end oracle: DuckDB reads the LIVE table directly
    #    (partition dirs only — the _history subtree holds the relocated
    #    pre-compaction files time travel still needs)
    glob = f"{table}/meta_year=*/*.parquet"
    n = duckdb.sql(
        f"SELECT count(*) FROM parquet_scan('{glob}', hive_partitioning=1)"
    ).fetchone()[0]
    assert n == 35
    bands = duckdb.sql(
        f"SELECT DISTINCT age_band FROM parquet_scan('{glob}', "
        "hive_partitioning=1) ORDER BY 1"
    ).fetchall()
    assert [b[0] for b in bands] == [0, 10, 20, 30]


def test_field_ids_assignment_mirrors_reference(spark):
    """Level-order per record, then depth-first descent; arrays reserve
    an id for the list element, maps for entries/keys/values
    (avro.rs:260-327 field_ids)."""
    from pyspark.sql.types import StructType

    from tansu_spark.lake.field_ids import assign_field_ids

    schema = StructType.fromDDL(
        "offset long, key string, meta struct<x: double>, "
        "headers array<struct<k:string,v:binary>>, counts map<string,long>"
    )
    assert assign_field_ids(schema) == {
        "offset": 1, "key": 2, "meta": 3, "headers": 4, "counts": 5,
        "meta.x": 6,
        "headers.item": 7, "headers.item.k": 8, "headers.item.v": 9,
        "counts.entries": 10, "counts.entries.keys": 11,
        "counts.entries.values": 12,
    }
    # stability: existing paths keep their ids, new paths continue
    evolved = StructType.fromDDL(
        "offset long, key string, meta struct<x: double, y: long>, "
        "headers array<struct<k:string,v:binary>>, counts map<string,long>, "
        "extra string"
    )
    ids2 = assign_field_ids(evolved, assign_field_ids(schema))
    assert ids2["offset"] == 1 and ids2["meta.x"] == 6  # unchanged
    assert ids2["extra"] == 13 and ids2["meta.y"] == 14  # fresh, appended


def _footer_field_ids(tdir):
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(tdir, "**", "*.parquet"), recursive=True))
    assert files, tdir
    out = []
    for f in files:
        sch = pq.read_schema(f)
        out.append(
            {
                fld.name: int(fld.metadata[b"PARQUET:field_id"])
                for fld in sch
                if fld.metadata and b"PARQUET:field_id" in fld.metadata
            }
        )
    return out


def test_field_ids_on_lake_writes_and_rewrites(stack, spark):
    """VERDICT r5 ask #5: PARQUET:field_id footer metadata on every lake
    write (json/arrow.rs:70-78), stable through add-only migration and
    compaction rewrites (the Iceberg id-matching invariant)."""
    import json

    broker, sink = stack
    broker.create_topic("person", partitions=1)
    for i in range(3):
        _produce_people(broker, 3, start=3 * i)
        sink.store("person")
    tdir = sink.table_dir("person")
    footers = _footer_field_ids(tdir)
    ids = json.load(open(os.path.join(tdir, "_field_ids.json")))
    assert ids["offset"] >= 1
    for footer in footers:
        for name, fid in footer.items():
            assert ids[name] == fid, name
        # every top-level column carries its id
        assert set(footer) == {k for k in ids if "." not in k}, footer
    # add-only evolution: a new generated column gets a FRESH id; all
    # prior assignments survive verbatim
    broker.alter_topic("person", {"tansu.lake.generate.age2": "value.age * 2"})
    _produce_people(broker, 3, start=9)
    sink.store("person")
    ids2 = json.load(open(os.path.join(tdir, "_field_ids.json")))
    assert all(ids2[k] == v for k, v in ids.items())
    assert "age2" in ids2 and ids2["age2"] == max(ids.values()) + 1
    # compaction rewrite re-attaches ids (Spark's parquet read schema
    # drops them, so the rewrite path must re-apply from the table map)
    stats = compact_table(spark, tdir)
    assert stats, "compaction expected to merge the small files"
    for footer in _footer_field_ids(tdir):
        for name, fid in footer.items():
            assert ids2[name] == fid, name
        assert "offset" in footer and "key" in footer
