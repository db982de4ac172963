"""Row-level MERGE INTO (upsert + delete) for parquet tables — the
parquet-native equivalent of the Delta MERGE the reference issues through
its Delta lake sink (nisshi-schema/src/lake/delta.rs write/commit path;
the reference relies on the Delta runtime for row-level updates, which
this container does not ship).

Semantics match Delta/ANSI MERGE:
- a change row with op 'U' updates the matched key or inserts when
  unmatched (WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT);
- op 'D' deletes the matched key (WHEN MATCHED DELETE), no-op unmatched;
- several change rows for one key are an error (Delta's "multiple source
  rows matched" contract) unless a ``seq_col`` totally orders them, in
  which case the highest sequence wins (CDC-stream apply order).

Scale design (same asymptotics as a Delta MERGE with partition pruning):
- The table is partitioned by ``bucket = pmod(hash(key), n_buckets)``. A
  merge aggregates the changeset (small side), reads ONLY the buckets the
  changeset touches, anti-joins the stale versions of changed keys out,
  unions the upserts in, and rewrites just those buckets via dynamic
  partition overwrite. Cost is O(touched buckets + changeset), never
  O(table).
- The changeset side of every join is changeset-sized, so AQE broadcast-
  converts it; the base side never shuffles (anti-join build side is the
  broadcast). Touched-bucket discovery collects at most n_buckets ints.
- Bucket count sizes rewrite amplification at 100 TB: with B buckets a
  1-key change rewrites ~1/B of the table, so pick B so table/B fits the
  executor write path (e.g. 4096 buckets for a 10 TB table).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from tansu_spark.materialize import corpus_checkpoint
from tansu_spark.streaming.runner import start_foreach_batch

OP_COL = "_op"
UPSERT = "U"
DELETE = "D"


class MergeTable:
    """A keyed parquet table supporting row-level MERGE.

    ``key_cols`` identify rows; all other columns are payload. The
    on-disk layout adds a ``bucket`` partition column derived from the
    key hash (dropped on read)."""

    def __init__(
        self,
        spark: SparkSession,
        table_dir: str,
        key_cols: list[str],
        n_buckets: int = 16,
        versioned: bool = False,
    ):
        self.spark = spark
        self.table_dir = table_dir
        self.key_cols = list(key_cols)
        self.n_buckets = n_buckets
        # versioned: every write commits a snapshot version and replaced
        # files RELOCATE to _history/ instead of being deleted, so old
        # versions stay readable (lake/snapshots.py) and changes_between
        # can diff them.
        self.versioned = versioned
        os.makedirs(table_dir, exist_ok=True)

    def _bucket(self):
        return F.pmod(F.hash(*self.key_cols), F.lit(self.n_buckets)).cast("int")

    def _has_data(self) -> bool:
        return any(e.startswith("bucket=") for e in os.listdir(self.table_dir))

    # ------------------------------------------------------------------- io
    def write_full(self, df: DataFrame) -> int | None:
        """Initial (or full-refresh) load. Returns the committed version
        when the table is versioned."""
        (
            df.withColumn("bucket", self._bucket())
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(self.table_dir)
        )
        if self.versioned:
            from tansu_spark.lake.snapshots import commit_snapshot

            return commit_snapshot(self.table_dir, "full_load")
        return None

    def read(self) -> DataFrame:
        if not self._has_data():
            raise FileNotFoundError(f"table {self.table_dir} has no data yet")
        return self.spark.read.parquet(self.table_dir).drop("bucket")

    # ---------------------------------------------------------------- merge
    def merge(
        self,
        changes: DataFrame,
        op_col: str = OP_COL,
        seq_col: str | None = None,
    ) -> int | None:
        """Apply a changeset. ``changes`` carries the table schema plus
        ``op_col`` ('U' upsert / 'D' delete) and optionally ``seq_col``.

        Raises ValueError when a key has several change rows and no
        ``seq_col`` resolves them — silently picking one would make the
        merge depend on partition order."""
        # Stage the bucketed changeset ONCE before anything reads it
        # (optimization r11, guide §1.2): the duplicate-key validation,
        # the touched-bucket collect, the anti-join key side and the
        # upsert arm all consume these rows — validating the RAW plan
        # first re-ran the changeset lineage (3 base-table scans in the
        # lake_merge_* queries) one extra full pass per merge.
        staged = changes.withColumn("bucket", self._bucket()).transform(
            corpus_checkpoint
        )
        # ONE aggregation job both validates the changeset and discovers
        # the touched buckets (optimization r11): per-key change counts
        # (and, with a sequence column, per-key distinct-sequence counts)
        # roll up to a per-bucket max — `bucket` is a pure function of
        # the key, so first() per key is exact. The old flow spent one
        # job on validation and another on the touched-bucket distinct;
        # the offending-key lookup moves to the (rare) error path. A NULL
        # sequence counts as its own value (count_distinct skips NULLs):
        # it sorts last under desc, so a NULL-seq row loses to any
        # sequenced row of its key, and only two NULLs tie.
        per_key = staged.groupBy(*self.key_cols).agg(
            F.count(F.lit(1)).alias("_n"),
            (
                F.count_distinct(F.col(seq_col))
                + F.max(F.col(seq_col).isNull().cast("int"))
            ).alias("_ns")
            if seq_col is not None
            else F.max(F.lit(0)).alias("_ns"),
            F.first("bucket").alias("bucket"),
        )
        stats = (
            per_key.groupBy("bucket")
            .agg(
                F.max("_n").alias("_mx"),
                F.max(F.col("_n") - F.col("_ns")).alias("_amb"),
            )
            .collect()
        )
        if seq_col is None:
            if any(r["_mx"] > 1 for r in stats):
                dup = (
                    staged.groupBy(*self.key_cols)
                    .agg(F.count(F.lit(1)).alias("_n"))
                    .where(F.col("_n") > 1)
                    .limit(1)
                    .collect()
                )
                key = {k: dup[0][k] for k in self.key_cols}
                raise ValueError(
                    f"multiple change rows for key {key}; pass seq_col to "
                    "order them"
                )
            latest = staged
        else:
            if any(r["_amb"] > 0 for r in stats):
                amb = (
                    staged.groupBy(*self.key_cols, seq_col)
                    .agg(F.count(F.lit(1)).alias("_n"))
                    .where(F.col("_n") > 1)
                    .limit(1)
                    .collect()
                )
                if not amb:
                    raise ValueError(
                        f"{seq_col} does not totally order the change rows "
                        "of some key"
                    )
                key = {k: amb[0][k] for k in self.key_cols}
                raise ValueError(
                    f"change rows for key {key} share "
                    f"{seq_col}={amb[0][seq_col]}; sequence must totally "
                    "order changes per key"
                )
            w = Window.partitionBy(*self.key_cols).orderBy(F.desc(seq_col))
            latest = (
                staged.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn", seq_col)
                # The seq-dedup window result feeds three consumers
                # below — materialize it too.
                .transform(corpus_checkpoint)
            )

        if not self._has_data():
            out = latest.where(F.col(op_col) == UPSERT).drop(op_col)
            (
                out.write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(self.table_dir)
            )
            return self._commit("merge")

        touched = [r["bucket"] for r in stats]
        if not touched:
            return
        base = self.spark.read.parquet(self.table_dir).where(
            F.col("bucket").isin(touched)
        )
        keys = latest.select(*self.key_cols)
        survivors = base.join(keys, self.key_cols, "left_anti")
        upserts = latest.where(F.col(op_col) == UPSERT).drop(op_col)
        # The anti-join consumes `base` BEFORE the touched files move (in
        # the versioned path), so materialize it up front.
        merged = survivors.unionByName(upserts)
        if self.versioned:
            merged = merged.transform(corpus_checkpoint)
            from tansu_spark.lake.snapshots import relocate_for_rewrite

            replaced = [
                os.path.join(self.table_dir, f"bucket={b}", f)
                for b in touched
                for f in self._listing(b)
            ]
            relocate_for_rewrite(self.table_dir, replaced)
            (
                merged.write.mode("overwrite")
                .partitionBy("bucket")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(self.table_dir)
            )
            return self._commit("merge")
        # Dynamic overwrite replaces only partitions PRESENT in `merged`;
        # a touched bucket whose every row was deleted produces no output
        # rows, is not rewritten, and would keep its stale files. Snapshot
        # the touched buckets' listings (part files get fresh UUID names
        # every write) and purge any bucket the write left unchanged.
        before = {b: self._listing(b) for b in touched}
        (
            merged.write.mode("overwrite")
            .partitionBy("bucket")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.table_dir)
        )
        import shutil

        for b in touched:
            if self._listing(b) == before[b]:
                shutil.rmtree(
                    os.path.join(self.table_dir, f"bucket={b}"),
                    ignore_errors=True,
                )
        return None

    def _commit(self, op: str) -> int | None:
        if not self.versioned:
            return None
        from tansu_spark.lake.snapshots import commit_snapshot

        return commit_snapshot(self.table_dir, op)

    def read_version(self, version: int | None = None) -> DataFrame:
        from tansu_spark.lake.snapshots import read_snapshot

        return read_snapshot(self.spark, self.table_dir, version).drop("bucket")

    def changes_between(self, v_old: int, v_new: int) -> DataFrame:
        """Change feed between two committed versions (the Delta CDF /
        Iceberg changelog contract, computed as a version diff): one row
        per key whose presence or payload changed, with ``_change_type``
        in {'insert', 'update', 'delete'} — new values for insert/update,
        final pre-image values for delete.

        Version-diff semantics: these are NET changes between the two
        versions (an update writing identical values, or an insert
        deleted again within the span, does not appear).

        Scale: a full-outer join of the two versions hashed on the key —
        the generic-fallback cost Delta itself pays when CDF wasn't
        recorded at write time. Both sides prune to live+relocated files
        of just their version; payload comparison is null-safe <=> on
        every non-key column."""
        old = self.read_version(v_old)
        new = self.read_version(v_new)
        payload = [c for c in new.columns if c not in self.key_cols]
        o = old.select(
            *[F.col(k).alias(f"_ok_{k}") for k in self.key_cols],
            *[F.col(c).alias(f"_o_{c}") for c in payload],
        )
        n = new.select(
            *[F.col(k).alias(f"_nk_{k}") for k in self.key_cols],
            *[F.col(c).alias(f"_n_{c}") for c in payload],
        )
        cond = [
            o[f"_ok_{k}"].eqNullSafe(n[f"_nk_{k}"]) for k in self.key_cols
        ]
        j = o.join(n, cond, "full_outer")
        in_old = j[f"_ok_{self.key_cols[0]}"].isNotNull()
        in_new = j[f"_nk_{self.key_cols[0]}"].isNotNull()
        same = F.lit(True)
        for c in payload:
            same = same & j[f"_o_{c}"].eqNullSafe(j[f"_n_{c}"])
        classified = j.withColumn(
            "_change_type",
            F.when(~in_old, F.lit("insert"))
            .when(~in_new, F.lit("delete"))
            .when(~same, F.lit("update")),
        ).where(F.col("_change_type").isNotNull())
        return classified.select(
            *[
                F.coalesce(f"_nk_{k}", f"_ok_{k}").alias(k)
                for k in self.key_cols
            ],
            *[
                F.when(F.col("_change_type") == "delete", F.col(f"_o_{c}"))
                .otherwise(F.col(f"_n_{c}"))
                .alias(c)
                for c in payload
            ],
            "_change_type",
        )

    def _listing(self, bucket: int) -> frozenset[str]:
        d = os.path.join(self.table_dir, f"bucket={bucket}")
        if not os.path.isdir(d):
            return frozenset()
        return frozenset(e for e in os.listdir(d) if not e.startswith("_"))

    # ------------------------------------------------------------- streaming
    def _meta_path(self) -> str:
        return os.path.join(self.table_dir, "_merge_meta.json")

    def last_batch_id(self) -> int:
        from tansu_spark.broker.state import read_json

        return int(
            read_json(self._meta_path(), {"last_batch_id": -1})["last_batch_id"]
        )

    def apply_batch(
        self,
        changes: DataFrame,
        batch_id: int,
        op_col: str = OP_COL,
        seq_col: str | None = None,
    ) -> bool:
        """Merge one micro-batch exactly once: a replayed batch id
        (restart between merge and checkpoint commit) is skipped — the
        same fence as IncrementalView / the broker's producer sequence.
        Returns False when skipped."""
        from tansu_spark.broker.state import write_json_atomic

        if batch_id <= self.last_batch_id():
            return False
        self.merge(changes, op_col=op_col, seq_col=seq_col)
        write_json_atomic(self._meta_path(), {"last_batch_id": batch_id})
        return True

    def stream_from(
        self,
        stream: DataFrame,
        checkpoint: str,
        transform=None,
        seq_col: str | None = None,
        trigger: dict | None = None,
    ):
        """Maintain the table from a streaming DataFrame via foreachBatch;
        ``transform`` maps each raw micro-batch to a changeset (table
        schema + op column + optional ``seq_col``). Returns the
        StreamingQuery."""

        def sink(batch: DataFrame, batch_id: int) -> None:
            self.apply_batch(
                transform(batch) if transform else batch,
                batch_id,
                seq_col=seq_col,
            )

        return start_foreach_batch(stream, sink, checkpoint, trigger)

