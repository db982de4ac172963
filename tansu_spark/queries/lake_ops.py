"""Lake-materialization operators as oracle-checked queries: SQL generated
columns, struct normalization, partition layout stats, and the Z-order
bucket/interleave math — the table-management surface of SURVEY §2.8/§2.6
expressed over the shared test tables."""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tansu_spark.queries import query
from tansu_spark.queries.kafka_ops import TOPIC_CTE, events_topic
from tansu_spark.tables import event_ts, load
from tansu_spark.materialize import corpus_checkpoint


@query(
    "lake_generated_columns",
    oracle=TOPIC_CTE
    + """
    SELECT "partition", "offset",
           CAST("timestamp" AS DATE) AS event_date,
           CAST(EXTRACT(hour FROM "timestamp") AS INTEGER) AS event_hour,
           upper("key") AS key_upper
    FROM topic WHERE "offset" < 50
    """,
)
def lake_generated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated columns (tansu.lake.generate.<col>=<expr>, delta.rs:236-272):
    arbitrary SQL expressions evaluated at write time — withColumn(expr)
    is the whole 'DataFusion pass'."""
    df = events_topic(spark, sf_dir).filter(F.col("offset") < 50)
    return (
        df.withColumn("event_date", F.expr("cast(timestamp as date)"))
        .withColumn("event_hour", F.expr("cast(extract(hour from timestamp) as int)"))
        .withColumn("key_upper", F.expr("upper(key)"))
        .select("partition", "offset", "event_date", "event_hour", "key_upper")
    )


@query(
    "lake_normalize_flatten",
    oracle=TOPIC_CTE
    + """
    SELECT "partition", "offset",
           CAST(json_extract("value", '$.k') AS BIGINT) AS "value.k"
    FROM topic WHERE "offset" < 50
    """,
)
def lake_normalize_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize (tansu.lake.normalize, delta.rs:274-290): nested payload
    structs flatten to top-level `parent.child` columns. The events `props`
    JSON plays the schema'd value; flattening yields `value.k`."""
    from tansu_spark.lake.sink import flatten_structs

    df = (
        events_topic(spark, sf_dir)
        .filter(F.col("offset") < 50)
        .select(
            "partition",
            "offset",
            F.from_json(F.col("value"), "k long").alias("value"),
        )
    )
    return flatten_structs(df, separator=".")


@query(
    "lake_partition_stats",
    oracle=TOPIC_CTE
    + """
    SELECT CAST(EXTRACT(year FROM "timestamp") AS INTEGER) AS year,
           CAST(EXTRACT(month FROM "timestamp") AS INTEGER) AS month,
           CAST(EXTRACT(day FROM "timestamp") AS INTEGER) AS day,
           COUNT(*) AS n_rows,
           MIN("offset") AS min_offset,
           MAX("offset") AS max_offset
    FROM topic GROUP BY 1, 2, 3
    """,
)
def lake_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake partition layout (tansu.lake.partition=meta.year,meta.month,...):
    row/offset stats per date partition — what the partitionBy write lays
    on disk, and what partition pruning prunes against."""
    from tansu_spark.operators.kafka import with_meta

    return (
        with_meta(events_topic(spark, sf_dir))
        .groupBy(
            F.col("meta.year").alias("year"),
            F.col("meta.month").alias("month"),
            F.col("meta.day").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("offset").alias("min_offset"),
            F.max("offset").alias("max_offset"),
        )
    )


@query(
    "lake_zorder_key",
    plan=("single_row_broadcast",),
    oracle="""
    WITH rng AS (
      SELECT min(l_partkey) AS pk_min, max(l_partkey) AS pk_max,
             min(l_suppkey) AS sk_min, max(l_suppkey) AS sk_max
      FROM lineitem
    ),
    b AS (
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             least(CAST(floor(16 * (l_partkey - pk_min) / (pk_max - pk_min + 1)) AS BIGINT), 15) AS r0,
             least(CAST(floor(16 * (l_suppkey - sk_min) / (sk_max - sk_min + 1)) AS BIGINT), 15) AS r1
      FROM lineitem, rng
    )
    SELECT l_orderkey, l_linenumber,
           ((r0 & 1) * 1 + (r1 & 1) * 2
            + ((r0 >> 1) & 1) * 4 + ((r1 >> 1) & 1) * 8
            + ((r0 >> 2) & 1) * 16 + ((r1 >> 2) & 1) * 32
            + ((r0 >> 3) & 1) * 64 + ((r1 >> 3) & 1) * 128) AS zkey
    FROM b
    """,
)
def lake_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key (OPTIMIZE ZORDER, delta.rs:577-586): fixed-range
    4-bit buckets per column, bits interleaved into the Morton key the
    rewrite sorts by. (The maintenance job uses approxQuantile buckets;
    fixed-range here keeps the oracle deterministic.)"""
    li = load(spark, sf_dir, "lineitem")
    rng = li.agg(
        F.min("l_partkey").alias("pk_min"),
        F.max("l_partkey").alias("pk_max"),
        F.min("l_suppkey").alias("sk_min"),
        F.max("l_suppkey").alias("sk_max"),
    )
    b = li.crossJoin(F.broadcast(rng)).select(
        "l_orderkey",
        "l_linenumber",
        F.least(
            F.floor(16 * (F.col("l_partkey") - F.col("pk_min")) / (F.col("pk_max") - F.col("pk_min") + 1)),
            F.lit(15),
        ).alias("r0"),
        F.least(
            F.floor(16 * (F.col("l_suppkey") - F.col("sk_min")) / (F.col("sk_max") - F.col("sk_min") + 1)),
            F.lit(15),
        ).alias("r1"),
    )
    z = F.lit(0)
    for bit in range(4):
        z = z + F.shiftright("r0", bit).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * bit))
        z = z + F.shiftright("r1", bit).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * bit + 1))
    return b.select("l_orderkey", "l_linenumber", z.cast("long").alias("zkey"))


@query(
    "lake_time_travel_first_batch",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(SUM(n_chars) AS DOUBLE) AS chars_total
    FROM documents
    WHERE doc_id % 3 = 0
    GROUP BY lang
    """,
)
def lake_time_travel_first_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel (lake/snapshots.py — the Delta-log versioning the
    reference gets from delta-rs, delta.rs commit path): write documents
    in two batches committing a version each, COMPACT the table (which
    relocates every v0 file into _history/), then read version 0 back
    and aggregate it. The oracle recomputes batch 1 straight from the
    source table — matching proves the snapshot resolved relocated files
    exactly, not just that some rows survived. SUM goes through DOUBLE
    (exact for these magnitudes) because DuckDB widens integer SUM to
    HUGEINT."""
    from tansu_spark.lake.maintain import compact_table
    from tansu_spark.lake.snapshots import commit_snapshot, read_snapshot

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    with tempfile.TemporaryDirectory(
        prefix="lake_tt_", ignore_cleanup_errors=True
    ) as scratch:
        d = f"{scratch}/t"
        docs.where(F.col("doc_id") % 3 == 0).write.mode("append").parquet(d)
        commit_snapshot(d, "append")
        docs.where(F.col("doc_id") % 3 != 0).write.mode("append").parquet(d)
        commit_snapshot(d, "append")
        compact_table(spark, d, target_bytes=1 << 40)
        v0 = read_snapshot(spark, d, 0)
        return (
            v0.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("double").alias("chars_total"),
            )
            # Materialize before the scratch dir vanishes.
            .transform(corpus_checkpoint)
        )


@query(
    "lake_merge_upsert",
    oracle="""
    WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS s, o_totalprice AS p
                  FROM orders),
    chg AS (
      SELECT k, 'X' AS s, p * 2 AS p, 'U' AS op FROM base WHERE k % 7 = 0
      UNION ALL
      SELECT k, NULL, NULL, 'D' FROM base WHERE k % 7 <> 0 AND k % 11 = 3
      UNION ALL
      SELECT k + 100000000, 'N', p, 'U' FROM base WHERE k % 13 = 5
    ),
    merged AS (
      SELECT b.k, b.s, b.p FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM chg c WHERE c.k = b.k)
      UNION ALL
      SELECT k, s, p FROM chg WHERE op = 'U'
    )
    SELECT s AS o_orderstatus,
           count(*) AS n_orders,
           CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS price_total
    FROM merged GROUP BY s
    """,
)
def lake_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level MERGE INTO on a parquet table (lake/merge.py — the
    parquet-native form of the Delta MERGE the reference's Delta sink
    delegates to delta-rs for, nisshi-schema/src/lake/delta.rs): load
    orders as a keyed table, apply one changeset holding updates (keys
    % 7 = 0, price doubled, status 'X'), deletes (% 11 = 3 among the
    rest) and inserts (fresh keys offset by 1e8), then aggregate the
    merged table. The oracle replays the same merge declaratively
    (anti-join survivors + upserts); matching proves row-level update,
    delete AND insert semantics — not just appends — while the merge
    itself rewrote only the key-hash buckets the changeset touched."""
    from tansu_spark.lake.merge import MergeTable

    base = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("s"),
        F.col("o_totalprice").alias("p"),
    )
    with tempfile.TemporaryDirectory(
        prefix="lake_mg_", ignore_cleanup_errors=True
    ) as scratch:
        t = MergeTable(spark, f"{scratch}/t", ["k"], n_buckets=8)
        t.write_full(base)
        chg = (
            base.where(F.col("k") % 7 == 0)
            .select("k", F.lit("X").alias("s"), (F.col("p") * 2).alias("p"),
                    F.lit("U").alias("_op"))
            .unionByName(
                base.where((F.col("k") % 7 != 0) & (F.col("k") % 11 == 3))
                .select("k", F.lit(None).cast("string").alias("s"),
                        F.lit(None).cast("double").alias("p"),
                        F.lit("D").alias("_op"))
            )
            .unionByName(
                base.where(F.col("k") % 13 == 5)
                .select((F.col("k") + 100000000).alias("k"),
                        F.lit("N").alias("s"), "p", F.lit("U").alias("_op"))
            )
        )
        t.merge(chg)
        return (
            t.read()
            .groupBy(F.col("s").alias("o_orderstatus"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("p").cast("decimal(18,2)"))
                .cast("double")
                .alias("price_total"),
            )
            .transform(corpus_checkpoint)
        )


@query(
    "lake_merge_change_feed",
    oracle="""
    WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS s, o_totalprice AS p
                  FROM orders)
    SELECT k + 100000000 AS k, 'N' AS s, p, 'insert' AS _change_type
    FROM base WHERE k % 13 = 5
    UNION ALL
    SELECT k, 'X', p * 2, 'update' FROM base WHERE k % 7 = 0
    UNION ALL
    SELECT k, s, p, 'delete' FROM base WHERE k % 7 <> 0 AND k % 11 = 3
    """,
)
def lake_merge_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between two table versions (lake/merge.py::
    MergeTable.changes_between — the Delta CDF / Iceberg changelog
    contract the reference inherits from delta-rs): run the same merge
    as `lake_merge_upsert` on a VERSIONED table (replaced bucket files
    relocate to _history/, each write commits a snapshot), then diff
    v0 -> v1. The oracle is the changeset itself written declaratively —
    matching proves the feed recovers every insert, update (new values)
    and delete (pre-image values) exactly, with no phantom rows from the
    untouched keys. Doubled prices stay IEEE-exact (x2 is a power of
    two), so no decimal detour is needed."""
    from tansu_spark.lake.merge import MergeTable

    base = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("s"),
        F.col("o_totalprice").alias("p"),
    )
    with tempfile.TemporaryDirectory(
        prefix="lake_cdf_", ignore_cleanup_errors=True
    ) as scratch:
        t = MergeTable(spark, f"{scratch}/t", ["k"], n_buckets=8, versioned=True)
        v0 = t.write_full(base)
        chg = (
            base.where(F.col("k") % 7 == 0)
            .select("k", F.lit("X").alias("s"), (F.col("p") * 2).alias("p"),
                    F.lit("U").alias("_op"))
            .unionByName(
                base.where((F.col("k") % 7 != 0) & (F.col("k") % 11 == 3))
                .select("k", F.lit(None).cast("string").alias("s"),
                        F.lit(None).cast("double").alias("p"),
                        F.lit("D").alias("_op"))
            )
            .unionByName(
                base.where(F.col("k") % 13 == 5)
                .select((F.col("k") + 100000000).alias("k"),
                        F.lit("N").alias("s"), "p", F.lit("U").alias("_op"))
            )
        )
        v1 = t.merge(chg)
        return t.changes_between(v0, v1).transform(corpus_checkpoint)


from tansu_spark.functions.iceberg_hash import murmur3_cte_sql as _mm_cte

_PT_MM = _mm_cte(
    "SELECT event_id, user_id, event_type, ts FROM events",
    "user_id",
    "event_id, user_id, event_type, ts",
)


@query(
    "lake_partition_transforms",
    oracle=f"""
    WITH t AS (
      SELECT event_id, user_id, event_type, ts,
             CAST((mm_h % 2147483648) % 8 AS INTEGER) AS user_bucket,
             event_id - ((event_id % 100 + 100) % 100) AS event_id_trunc,
             substr(event_type, 1, 3) AS type_trunc,
             CAST(EXTRACT(day FROM ts) AS INTEGER) AS ts_day
      FROM ({_PT_MM})
    )
    SELECT user_bucket, ts_day,
           count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS id_sum,
           count(DISTINCT event_id_trunc) AS trunc_bands,
           count(DISTINCT type_trunc) AS type_prefixes
    FROM t GROUP BY user_bucket, ts_day
    """,
)
def lake_partition_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style hidden-partitioning transforms
    (LakeSink.partition_transform): bucket(8, user_id) via the EXACT
    Iceberg murmur3 bucket (functions/iceberg_hash.py — r10 closes the
    former md5 divergence for long-hashed types; the oracle replays the
    identical 32-bit arithmetic as a DuckDB CTE chain), numeric and
    string truncate(w, col), and the day() temporal transform — computed
    by the sink's own transform code, aggregated per (bucket, day)
    partition tuple. The id_sum per tuple is the witness that every row
    routes identically in both engines.

    The bucket uses the hash's withColumn-CHAIN form (whole-stage
    codegen) rather than the sink's single-Column fold: same arithmetic
    to the bit — pinned equal to LakeSink.partition_transform's routing
    on the spec vectors in tests/test_iceberg_hash.py — but the fold is
    CodegenFallback and measured 3.8x slower on this scan (r10 bench)."""
    from tansu_spark.functions.iceberg_hash import with_murmur3
    from tansu_spark.lake.sink import LakeSink

    ev = load(spark, sf_dir, "events").withColumn("ts", event_ts())
    ev = with_murmur3(ev, "user_id", "_uh")
    b = (
        F.col("_uh").cast("bigint").bitwiseAND(F.lit(2147483647).cast("bigint"))
        % 8
    ).cast("int")
    tr, _ = LakeSink.partition_transform("truncate(100, event_id)", ev)
    tp, _ = LakeSink.partition_transform("truncate(3, event_type)", ev)
    dy, _ = LakeSink.partition_transform("day(ts)", ev)
    t = ev.select(
        "event_id",
        b.alias("user_bucket"),
        tr.alias("event_id_trunc"),
        tp.alias("type_trunc"),
        dy.alias("ts_day"),
    )
    return t.groupBy("user_bucket", "ts_day").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("event_id").cast("long").alias("id_sum"),
        F.countDistinct("event_id_trunc").alias("trunc_bands"),
        F.countDistinct("type_trunc").alias("type_prefixes"),
    )


@query(
    "lake_delete_vectors_mor",
    oracle="""
    WITH survivors AS (
        SELECT l_linestatus AS s, l_quantity AS q, l_extendedprice AS p
        FROM lineitem
        WHERE NOT (l_returnflag = 'R')
          AND NOT (CAST(l_quantity AS DOUBLE) < 4.0)
    )
    SELECT s,
           count(*) AS n_rows,
           CAST(SUM(CAST(q AS DECIMAL(18,2))) AS DOUBLE) AS qty_total,
           CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS price_total
    FROM survivors GROUP BY s
    """,
)
def lake_delete_vectors_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETES via deletion vectors (lake/dv.py — the
    read-path twin of lake_merge_upsert's copy-on-write MERGE; Delta DVs /
    Iceberg v2 positional deletes, neither runtime ships in this
    container): write lineitem across multiple parquet files, apply TWO
    delete generations (returned items, then tiny quantities) that only
    APPEND (file, row-position) pairs — data files stay byte-identical,
    pytest-pinned — then aggregate the merged-on-read view. The read
    anti-joins Spark's native `_metadata.row_index` positions against
    the vector store, so matching the oracle proves the POSITIONAL
    plumbing end-to-end: the oracle only knows the predicates; the Spark
    side deletes by stored positions, not by re-evaluating them."""
    from tansu_spark.lake.dv import DvTable

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
        "l_linestatus", "l_extendedprice",
    )
    with tempfile.TemporaryDirectory(
        prefix="lake_dv_", ignore_cleanup_errors=True
    ) as scratch:
        t = DvTable(spark, f"{scratch}/t")
        # Several files (per-file positions must be exercised) WITHOUT
        # shuffling the whole table for it: maxRecordsPerFile splits
        # each write task's output at a row cap, so the full-lineitem
        # round-robin repartition(4) exchange is gone (optimization r11,
        # guide §2.1 — the old plan's only Exchange). Row order within
        # each task is the scan order, so the layout stays deterministic.
        t.write(li, max_records_per_file=150_000)
        # Both delete generations in ONE table scan (optimization r10;
        # delete_where_many proves the fused store content identical to
        # the sequential chain — see lake/dv.py and tests/test_dv.py).
        t.delete_where_many(
            [
                F.col("l_returnflag") == "R",
                F.col("l_quantity").cast("double") < 4.0,
            ]
        )
        out = (
            t.read()
            .groupBy(F.col("l_linestatus").alias("s"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                .cast("double")
                .alias("qty_total"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("price_total"),
            )
        )
        rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


@query(
    "lake_restore_version",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS price_total
    FROM orders WHERE o_orderkey % 3 = 0
    GROUP BY o_orderpriority
    """,
)
def lake_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE to an old version (lake/snapshots.py::restore_version
    — Delta's `RESTORE ... VERSION AS OF`, which the reference inherits
    from delta-rs's transaction log, nisshi-schema/src/lake/delta.rs
    commit path): write orders in two version-committed batches, COMPACT
    (so v0's files are all relocated into _history/ — restore must chase
    the relocation map, not just flip a pointer), restore to v0, then
    read the table with a PLAIN parquet scan — no read_snapshot — and
    aggregate. Matching the batch-1 oracle proves the restore rewired
    the LIVE file set every engine sees, while v1/v2 stay readable
    (asserted in tests/test_snapshots.py).

    Scale: restore is O(files changed) renames — no data copied — the
    same cost profile as Delta RESTORE writing only log entries."""
    from tansu_spark.lake.maintain import compact_table
    from tansu_spark.lake.snapshots import commit_snapshot, restore_version

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    with tempfile.TemporaryDirectory(
        prefix="lake_restore_", ignore_cleanup_errors=True
    ) as scratch:
        d = f"{scratch}/t"
        orders.where(F.col("o_orderkey") % 3 == 0).repartition(3).write.mode(
            "append"
        ).parquet(d)
        commit_snapshot(d, "append")  # v0
        orders.where(F.col("o_orderkey") % 3 != 0).write.mode("append").parquet(d)
        commit_snapshot(d, "append")  # v1
        compact_table(spark, d, target_bytes=1 << 40)  # v2: relocates v0 files
        restore_version(d, 0)  # v3: v0's files live again
        out = (
            spark.read.parquet(d)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("price_total"),
            )
        )
        rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


@query(
    "streaming_lake_sink",
    oracle="""
    SELECT CAST(event_id % 4 AS INTEGER) AS partition,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys,
           CAST(SUM(length(props)) AS BIGINT) AS value_chars,
           MIN(ts) AS first_ts,
           MAX(ts) AS last_ts
    FROM events GROUP BY 1
    """,
)
def streaming_lake_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The topic -> lake WRITE path, end to end, under the hash gate:
    events are PRODUCED into a scratch broker (4 partitions, explicit
    routing so DuckDB can replay it), materialized to a parquet lake
    table by the REAL streaming sink (streaming/source.py::
    stream_to_lake — foreachBatch over the topic stream driving
    LakeSink.store on the per-partition offset frontier; the
    reference's per-batch sink, pg.rs:987), then DELIBERATELY REPLAYED
    with a fresh checkpoint — the frontier fence must make the second
    run a no-op (idempotent produce T3, the exactly-once contract).
    The aggregate over the lake table hash-equals the source: rows
    landed exactly once, with key/value/timestamp intact.

    Scale: store() reads only offsets in (frontier, high-watermark) per
    partition — incremental cost follows the new data, and the replay
    run costs one empty scan."""
    from tansu_spark.broker.broker import Broker
    from tansu_spark.lake.sink import LakeSink
    from tansu_spark.streaming.source import stream_to_lake

    ev = load(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory(
        prefix="lake_stream_sink_", ignore_cleanup_errors=True
    ) as scratch:
        broker = Broker(spark, f"{scratch}/store")
        broker.create_topic("ev", partitions=4)
        broker.produce(
            "ev",
            ev.select(
                F.col("user_id").cast("string").cast("binary").alias("key"),
                F.col("props").cast("binary").alias("value"),
                # ts contract: BIGINT nanos (tables.load) -> µs timestamp,
                # exactly what DuckDB's parquet reader yields for MIN/MAX.
                event_ts().alias("timestamp"),
                (F.col("event_id") % 4).cast("int").alias("partition"),
            ),
        )
        sink = LakeSink(broker, f"{scratch}/lake")
        q = stream_to_lake(broker, sink, "ev", checkpoint=f"{scratch}/ck1")
        q.awaitTermination()
        # Replay from a fresh checkpoint: the offset-frontier fence, not
        # the checkpoint, is what guarantees exactly-once — rows must NOT
        # double.
        q2 = stream_to_lake(broker, sink, "ev", checkpoint=f"{scratch}/ck2")
        q2.awaitTermination()
        out = (
            sink.read("ev")
            .groupBy(F.col("partition").cast("int").alias("partition"))
            .agg(
                F.count(F.lit(1)).alias("n_records"),
                F.countDistinct(F.col("key").cast("string")).alias("n_keys"),
                F.sum(F.length(F.col("value").cast("string")))
                .cast("long")
                .alias("value_chars"),
                F.min("timestamp").alias("first_ts"),
                F.max("timestamp").alias("last_ts"),
            )
        )
        rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


@query(
    "lake_write_audit_publish",
    oracle="""
    WITH good AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
      WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
      WHERE o_orderkey % 2 = 1 AND o_orderkey % 7 <> 1
    )
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS price_total,
           CAST(1 AS BIGINT) AS n_rollbacks,
           CAST(1 AS BIGINT) AS n_publishes
    FROM good GROUP BY o_orderpriority
    """,
)
def lake_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish (the Iceberg/Delta WAP operational pattern,
    composed from this repo's snapshot primitives): each ingest batch is
    STAGED as a committed version, AUDITED against the live table, and
    either PUBLISHED (kept) or ROLLED BACK (`restore_version` to the
    pre-stage version — O(staged files) renames; the dirty data leaves
    the live file set entirely). The gate run stages the odd-orders
    batch with a contract violation injected (priority NULLed on the
    o_orderkey % 7 = 1 subset), the audit catches it, the stage rolls
    back; the corrected batch (violating rows quarantined) stages and
    publishes. The final PLAIN read must equal the oracle's
    base + quarantine-filtered replay — a leftover dirty file or a lost
    base file would shift counts AND null-group the hash.

    Scale: audit cost is one predicate scan (production audits only the
    staged files via the version diff); rollback is O(files staged)."""
    from tansu_spark.lake.snapshots import commit_snapshot, restore_version

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    with tempfile.TemporaryDirectory(
        prefix="lake_wap_", ignore_cleanup_errors=True
    ) as scratch:
        d = f"{scratch}/t"
        base = orders.where(F.col("o_orderkey") % 2 == 0)
        base.write.mode("append").parquet(d)
        published = commit_snapshot(d, "append")  # v0 = published base

        def audit_fails() -> bool:
            live = spark.read.parquet(d)
            return (
                live.where(F.col("o_orderpriority").isNull()).limit(1).count()
                > 0
            )

        rollbacks = publishes = 0
        odd = orders.where(F.col("o_orderkey") % 2 == 1)
        # Stage 1: dirty batch — a deterministic subset violates the
        # NOT NULL priority contract.
        dirty = odd.withColumn(
            "o_orderpriority",
            F.when(F.col("o_orderkey") % 7 == 1, F.lit(None)).otherwise(
                F.col("o_orderpriority")
            ),
        )
        dirty.write.mode("append").parquet(d)
        commit_snapshot(d, "stage")
        if audit_fails():
            restore_version(d, published)  # rollback: dirty stage undone
            rollbacks += 1
        # Stage 2: corrected batch — violating rows quarantined upstream.
        clean = odd.where(F.col("o_orderkey") % 7 != 1)
        clean.write.mode("append").parquet(d)
        staged = commit_snapshot(d, "stage")
        if not audit_fails():
            published = staged  # publish: the staged version is now live
            publishes += 1
        out = (
            spark.read.parquet(d)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("price_total"),
            )
            .withColumn("n_rollbacks", F.lit(rollbacks).cast("long"))
            .withColumn("n_publishes", F.lit(publishes).cast("long"))
        )
        rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


@query(
    "lake_snapshot_expiry",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_total,
           CAST(1 AS BIGINT) AS versions_remaining,
           CAST(5 AS BIGINT) AS n_files_expired,
           TRUE AS v0_unreadable
    FROM events GROUP BY event_type
    """,
)
def lake_snapshot_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT EXPIRY + history reclamation end to end (lake/
    snapshots.py::expire_snapshots — Iceberg's `expireSnapshots` /
    Delta's log-retention + VACUUM pair, which the reference inherits
    through its table-format runtimes, nisshi-schema/src/lake/berg.rs
    maintenance path): write events in two version-committed batches
    (3 + 2 files, pinned by explicit repartition so the expiry count is
    deterministic), COMPACT (v2 — relocates all five v0/v1 files into
    _history/), then expire keeping ONLY the latest version. The five
    history files are physically deleted (the returned count is part of
    the gated output), the manifest drops to one version, time travel
    to v0 now RAISES (asserted in-query and emitted as a gated flag),
    and a plain parquet scan still reads the full, compacted data —
    proving expiry touched only history, never live files.

    Scale: expiry is O(dropped files) unlinks + one manifest rewrite —
    no data copied, no Spark job; the safety property (live files never
    touched) is structural because the kept versions' file sets are
    excluded from the delete list before any unlink happens."""
    from tansu_spark.lake.maintain import compact_table
    from tansu_spark.lake.snapshots import (
        commit_snapshot,
        expire_snapshots,
        load_manifest,
        read_snapshot,
    )

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    with tempfile.TemporaryDirectory(
        prefix="lake_expire_", ignore_cleanup_errors=True
    ) as scratch:
        d = f"{scratch}/t"
        ev.where(F.col("event_id") % 3 == 0).repartition(3).write.mode(
            "append"
        ).parquet(d)
        commit_snapshot(d, "append")  # v0: 3 files
        ev.where(F.col("event_id") % 3 != 0).repartition(2).write.mode(
            "append"
        ).parquet(d)
        commit_snapshot(d, "append")  # v1: +2 files
        compact_table(spark, d, target_bytes=1 << 40)  # v2: relocates all 5
        n_expired = expire_snapshots(d, keep_last=1)
        doc = load_manifest(d)
        try:
            read_snapshot(spark, d, 0)
            v0_unreadable = False
        except KeyError:
            v0_unreadable = True
        out = (
            spark.read.parquet(d)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("value").cast("decimal(12,2)"))
                .cast("double")
                .alias("value_total"),
            )
            .select(
                "event_type",
                "n_rows",
                "value_total",
                F.lit(len(doc["versions"])).cast("long").alias("versions_remaining"),
                F.lit(n_expired).cast("long").alias("n_files_expired"),
                F.lit(v0_unreadable).alias("v0_unreadable"),
            )
        )
        rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


@query(
    "lake_clone_shallow",
    oracle="""
    WITH src AS (SELECT o_orderpriority, count(*) AS n,
                        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                          AS total
                 FROM orders GROUP BY o_orderpriority),
    extra AS (SELECT o_orderpriority, count(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS total
              FROM orders WHERE o_orderkey % 7 = 0 GROUP BY o_orderpriority)
    SELECT s.o_orderpriority,
           CAST(s.n AS BIGINT) AS src_n,
           s.total AS src_total,
           CAST(s.n + coalesce(e.n, 0) AS BIGINT) AS clone_n,
           round(s.total + coalesce(e.total, 0.0), 2) AS clone_total,
           CAST(0 AS BIGINT) AS n_files_copied
    FROM src s LEFT JOIN extra e USING (o_orderpriority)
    """,
)
def lake_clone_shallow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZERO-COPY SHALLOW CLONE end to end (lake/snapshots.py::
    clone_shallow — Delta's `CREATE TABLE ... SHALLOW CLONE`, which the
    reference inherits through delta-rs): commit orders into a source
    table, clone it WITHOUT copying a byte (the gated n_files_copied
    column counts the clone root's live parquet files at clone time —
    zero), append a slice (orderkey % 7 = 0) to the CLONE only,
    and read both tables back: the source must still aggregate to the
    untouched original, the clone to original + slice — divergent
    histories over shared physical files. Expiring clone snapshots can
    never delete source data (expire unlinks only the clone's own
    relocation map).

    Scale: a clone is one manifest write referencing the source
    version's file list — O(files) paths, no data moved; clone appends
    are ordinary local writes whose commits carry the external refs
    forward."""
    from tansu_spark.lake.snapshots import (
        clone_shallow,
        commit_snapshot,
        read_snapshot,
    )
    from tansu_spark.lake.stats import live_files

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    with tempfile.TemporaryDirectory(
        prefix="lake_clone_", ignore_cleanup_errors=True
    ) as scratch:
        src = f"{scratch}/src"
        dst = f"{scratch}/clone"
        orders.repartition(3).write.mode("append").parquet(src)
        commit_snapshot(src, "append")  # src v0
        clone_shallow(src, dst)
        n_copied = len(live_files(dst))
        orders.where(F.col("o_orderkey") % 7 == 0).write.mode("append").parquet(dst)
        commit_snapshot(dst, "append")  # clone v1: local files + external refs
        s = (
            spark.read.parquet(src)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("src_n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("src_total"),
            )
        )
        c = (
            read_snapshot(spark, dst)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("clone_n"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                        "double"
                    ),
                    2,
                ).alias("clone_total"),
            )
        )
        out = s.join(c, "o_orderpriority").select(
            "o_orderpriority",
            "src_n",
            "src_total",
            "clone_n",
            "clone_total",
            F.lit(n_copied).cast("long").alias("n_files_copied"),
        )
        rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


_IB_MM = _mm_cte(
    "SELECT event_id, user_id FROM events", "user_id", "event_id, user_id"
)


@query(
    "lake_iceberg_bucket_exact",
    oracle=f"""
    SELECT CAST((mm_h % 2147483648) % 16 AS INTEGER) AS bucket,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(event_id) AS BIGINT) AS id_sum,
           CAST(min(CASE WHEN mm_h >= 2147483648 THEN mm_h - 4294967296
                         ELSE mm_h END) AS INTEGER) AS min_hash
    FROM ({_IB_MM})
    GROUP BY bucket
    """,
)
def lake_iceberg_bucket_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Iceberg bucket transform (spec: (murmur3_x86_32(le8(v), 0)
    & Integer.MAX_VALUE) % N) over events.user_id — the hash is
    straight-line 32-bit column algebra in BOTH engines
    (functions/iceberg_hash.py; spec Appendix B vectors pinned in
    tests/test_iceberg_hash.py), so a file written under this routing is
    byte-level readable by real Iceberg AND re-derivable by any SQL
    reader. One scan + one groupBy on the 16-value bucket key; the hash
    itself is ~20 whole-stage-codegen expressions, no UDF, no shuffle
    before the aggregation. min_hash witnesses the signed hash values,
    id_sum witnesses row routing."""
    from tansu_spark.functions.iceberg_hash import with_murmur3

    ev = load(spark, sf_dir, "events").select("event_id", "user_id")
    # chain form: ~20 plain expressions, fully inside whole-stage codegen
    # (the single-Column fold form is CodegenFallback — fine for sink
    # routing, not for the scan hot path)
    t = with_murmur3(ev, "user_id", "h").withColumn(
        "bucket",
        (
            F.col("h").cast("bigint").bitwiseAND(F.lit(2147483647).cast("bigint"))
            % 16
        ).cast("int"),
    )
    return t.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("event_id").cast("long").alias("id_sum"),
        F.min("h").cast("int").alias("min_hash"),
    )


from tansu_spark.functions.iceberg_hash import (  # noqa: E402
    murmur3_str_cte_sql as _mm_str_cte,
)

_IBS_MM = _mm_str_cte(
    "SELECT c_custkey, c_name FROM customer", "c_name", "c_custkey, c_name"
)


@query(
    "lake_iceberg_bucket_string",
    oracle=f"""
    SELECT CAST((mm_h % 2147483648) % 32 AS INTEGER) AS bucket,
           count(*) AS n,
           CAST(sum(c_custkey) AS BIGINT) AS key_sum,
           CAST(min(CASE WHEN mm_h >= 2147483648 THEN mm_h - 4294967296
                         ELSE mm_h END) AS INTEGER) AS min_hash
    FROM ({_IBS_MM})
    GROUP BY bucket
    """,
)
def lake_iceberg_bucket_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Iceberg bucket transform for a STRING column (spec: murmur3
    of the UTF-8 bytes) over customer.c_name: byte access via
    hex(encode(s)) on both engines, the 4-byte-block body as a fold over
    block indices (Spark `aggregate` / DuckDB `list_reduce` with the
    seed prepended), straight-line tail + fmix. With the long form
    (lake_iceberg_bucket_exact) this makes bucket routing byte-level
    Iceberg-parity for every common partition-key type. One scan + one
    groupBy; per-row cost is linear in the key's byte length, no UDF."""
    from tansu_spark.functions.iceberg_hash import with_murmur3_str

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # chain form: the block fold stays a lambda (variable-length input),
    # everything else is plain codegen arithmetic
    t = with_murmur3_str(c, "c_name", "h").withColumn(
        "bucket",
        (F.col("h").cast("bigint").bitwiseAND(F.lit(2147483647).cast("bigint")) % 32).cast("int"),
    )
    return t.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c_custkey").cast("long").alias("key_sum"),
        F.min("h").cast("int").alias("min_hash"),
    )


@query(
    "lake_delta_log_read",
    oracle="""
    WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS s, o_totalprice AS p
                  FROM orders),
    merged AS (
      SELECT k,
             CASE WHEN k % 5 = 4 THEN 'L' ELSE s END AS s,
             CASE WHEN k % 5 = 4 THEN p + 1000.0 ELSE p END AS p
      FROM base WHERE k % 5 <> 2
    )
    SELECT s AS o_orderstatus,
           count(*) AS n_orders,
           CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS price_total
    FROM merged GROUP BY s
    """,
)
def lake_delta_log_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta transaction-log EXPORT + external-reader read-back
    (lake/delta_log.py — the interop surface of the reference's delta-rs
    commit path, nisshi-schema/src/lake/delta.rs:99-178): full-load
    orders into a versioned bucketed table, run a row-level MERGE
    (updates k%5=4 -> status 'L', price +1000; deletes k%5=2) that
    rewrites only touched buckets and RELOCATES their old files, export
    `_snapshots.json` as a spec-format `_delta_log/` (protocol/metaData/
    add/remove JSON commits with footer-harvested stats), then read the
    table back EXACTLY as a foreign Delta reader would — file list from
    pure log replay, schema from metaData.schemaString — and aggregate.
    Matching the declarative oracle proves the log's add/remove
    bookkeeping reconstructs the post-merge live set bit-exactly (a
    stale bucket file surviving replay would double-count its rows).
    Scale: export is O(files) footer metadata reads, no data scan; the
    read is the same partition-pruned parquet scan as read_snapshot."""
    from tansu_spark.lake.delta_log import export_delta_log, read_via_delta_log
    from tansu_spark.lake.merge import MergeTable

    base = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("s"),
        F.col("o_totalprice").alias("p"),
    )
    with tempfile.TemporaryDirectory(
        prefix="lake_dl_", ignore_cleanup_errors=True
    ) as scratch:
        t = MergeTable(spark, f"{scratch}/t", ["k"], n_buckets=8, versioned=True)
        t.write_full(base)
        chg = (
            base.where(F.col("k") % 5 == 4)
            .select("k", F.lit("L").alias("s"),
                    (F.col("p") + F.lit(1000.0)).alias("p"),
                    F.lit("U").alias("_op"))
            .unionByName(
                base.where(F.col("k") % 5 == 2)
                .select("k", F.lit(None).cast("string").alias("s"),
                        F.lit(None).cast("double").alias("p"),
                        F.lit("D").alias("_op"))
            )
        )
        t.merge(chg)
        export_delta_log(spark, f"{scratch}/t")
        merged = read_via_delta_log(spark, f"{scratch}/t").drop("bucket")
        return (
            merged.groupBy(F.col("s").alias("o_orderstatus"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("p").cast("decimal(18,2)"))
                .cast("double")
                .alias("price_total"),
            )
            .transform(corpus_checkpoint)
        )
