"""Merge-on-read deletes via DELETION VECTORS — the read-path twin of
`lake/merge.py`'s copy-on-write MERGE.

Delta and Iceberg both grew this shape (Delta deletion vectors / Iceberg
v2 positional delete files) because copy-on-write rewrites a whole file
(here: bucket) to delete one row. A deletion vector records the POSITIONS
of deleted rows next to the untouched data files; readers anti-join the
positions out. Deleting k rows costs O(k) writes — no data file is ever
rewritten — and reads cost one broadcast-able anti-join against state
that is O(total deletes), not O(table).

The reference ships neither runtime (delta.rs / berg.rs are import-gated
in this container, COVERAGE.md env-gate section), so this is the
parquet-native semantic replica: positions are Spark's native parquet
row index (`_metadata.row_index`, stable per file), the vector store is
a parquet table of (file, pos) under `_dv/`, and delete generations
simply append — a row deleted twice dedups in the anti-join.

100 TB shape: `delete_where` is one scan with the predicate pushed down
(only matching rows surface positions) + one O(k) append; `read` is a
map-only scan + ONE anti-join whose build side is the DV table (bounded
by deletes; AQE broadcasts it while it is small, shuffles on (file, pos)
if it ever isn't). `rewritten_files()` exposes the compaction decision a
maintenance loop needs: files whose deleted fraction crossed a threshold
get rewritten and their vectors dropped (the same fold-DV-into-rewrite
maintenance Delta's OPTIMIZE performs).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tansu_spark.lake.stats import live_files

_FILE = "_dv_file"
_POS = "_dv_pos"


class DvTable:
    """A parquet table with positional merge-on-read deletes."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.dv_dir = os.path.join(path, "_dv")

    # ------------------------------------------------------------ write
    def write(
        self,
        df: DataFrame,
        mode: str = "overwrite",
        max_records_per_file: int | None = None,
    ) -> None:
        """``max_records_per_file`` caps rows per parquet file WITHOUT a
        shuffle (each write task splits its own output) — the cheap way
        to bound file sizes for positional-delete granularity."""
        w = df.write.mode(mode)
        if max_records_per_file:
            w = w.option("maxRecordsPerFile", max_records_per_file)
        w.parquet(self.data_dir)

    # ------------------------------------------------------- scan + pos
    def _scan_with_pos(self) -> DataFrame:
        return self.spark.read.parquet(self.data_dir).select(
            "*",
            F.col("_metadata.file_path").alias(_FILE),
            F.col("_metadata.row_index").alias(_POS),
        )

    def _dv(self) -> DataFrame | None:
        if not live_files(self.dv_dir):
            return None
        return self.spark.read.parquet(self.dv_dir)

    # ------------------------------------------------------------ delete
    def delete_where(self, predicate) -> None:
        """Append the (file, position) pairs of LIVE rows matching
        ``predicate`` to the deletion-vector store. The data files are
        untouched — the predicate scan pushes down, and the write is
        O(matching rows)."""
        hits = self.read_with_pos().where(predicate).select(_FILE, _POS)
        hits.write.mode("append").parquet(self.dv_dir)

    def delete_where_many(self, predicates) -> None:
        """Apply several predicates as SEQUENTIAL delete generations in
        ONE scan (optimization r10): generation i of the equivalent
        ``delete_where`` chain records rows matching ``predicates[i]``
        that are live after generations < i, so the union of all
        generations is exactly ``(p1 OR ... OR pn)`` over rows live
        BEFORE the call — no other mutation can interleave inside one
        call, which is what makes the fusion sound. The PER-FILE DELETED
        POSITION SETS (what reads, deleted fractions and compaction
        consume) are identical to the sequential chain; generation
        boundaries are NOT preserved — the fused form appends one DV
        file where the chain appends N, so a future feature reading
        per-generation history must not assume the stores are
        indistinguishable (ADVICE r10). The N full table scans collapse
        to one (the OR still pushes down)."""
        preds = list(predicates)
        if not preds:
            return
        any_p = preds[0]
        for p in preds[1:]:
            any_p = any_p | p
        self.delete_where(any_p)

    # -------------------------------------------------------------- read
    def read_with_pos(self) -> DataFrame:
        scan = self._scan_with_pos()
        dv = self._dv()
        if dv is None:
            return scan
        return scan.join(dv, [_FILE, _POS], "left_anti")

    def read(self) -> DataFrame:
        return self.read_with_pos().drop(_FILE, _POS)

    # ------------------------------------------------------- maintenance
    def compact(self, threshold: float = 0.3) -> list[str]:
        """Fold deletion vectors into rewrites — the OPTIMIZE half of
        merge-on-read: files whose deleted fraction reached ``threshold``
        are rewritten WITHOUT their deleted rows and their vectors are
        dropped; files below it (and their vectors) stay byte-identical.
        Returns the rewritten file paths. Cost is O(rewritten files),
        chosen by the caller's threshold — the standard DV maintenance
        trade: read amplification (anti-join state) vs write
        amplification (rewrites)."""
        stats = self.deleted_fraction_by_file().collect()
        victims = [r["file"] for r in stats if r["fraction"] >= threshold and r["deleted"] > 0]
        if not victims:
            return []
        survivors = (
            self._scan_with_pos()
            .where(F.col(_FILE).isin(victims))
            .join(self._dv(), [_FILE, _POS], "left_anti")
            .drop(_FILE, _POS)
        )
        survivors.write.mode("append").parquet(self.data_dir)
        from urllib.parse import urlparse

        for f in victims:
            # _metadata.file_path is a URI ("file:/..." single-slash form)
            local = urlparse(f).path if ":" in f else f
            os.remove(local)
            crc = os.path.join(os.path.dirname(local), "." + os.path.basename(local) + ".crc")
            if os.path.exists(crc):
                os.remove(crc)
        # drop the folded vectors; keep the rest (write-aside then swap —
        # never collected to the driver)
        import shutil

        tmp = self.dv_dir + ".rewrite"
        (
            self.spark.read.parquet(self.dv_dir)
            .where(~F.col(_FILE).isin(victims))
            .write.mode("overwrite")
            .parquet(tmp)
        )
        shutil.rmtree(self.dv_dir, ignore_errors=True)
        os.rename(tmp, self.dv_dir)
        return victims

    def deleted_fraction_by_file(self) -> DataFrame:
        """(file, total, deleted, fraction) — the compaction planner's
        input: files past a deleted-fraction threshold are worth
        rewriting so their vectors can be dropped."""
        totals = (
            self._scan_with_pos()
            .groupBy(F.col(_FILE).alias("file"))
            .agg(F.count(F.lit(1)).alias("total"))
        )
        dv = self._dv()
        if dv is None:
            return totals.select(
                "file",
                "total",
                F.lit(0).cast("long").alias("deleted"),
                F.lit(0.0).alias("fraction"),
            )
        dels = (
            dv.groupBy(F.col(_FILE).alias("file"))
            .agg(F.count_distinct(F.col(_POS)).alias("deleted"))
        )
        return (
            totals.join(dels, "file", "left")
            .na.fill({"deleted": 0})
            .select(
                "file",
                "total",
                "deleted",
                (F.col("deleted") / F.col("total")).alias("fraction"),
            )
        )
