"""The one file index for parquet directories: lake tables and topic
segments alike.

Delta and Iceberg keep per-file min/max column stats in their
transaction logs; neither runtime ships in this container (lake/sink.py
has the same import-gate story), so the stats live in a JSON manifest
next to the data. A lake table's `_stats.json` is data skipping (the
reference prunes lake scans with Delta's stats,
nisshi-schema/src/lake/delta.rs); the broker's `_segment_stats.json` is
Kafka's segment index (a fetch from offset N opens only the segments
whose offset range reaches N). Both are this module's manifest:
`{"columns", "created_at", "files": {rel: {col: [lo, hi]}}}`.

- `live_files(root)`: the files `spark.read.parquet(root)` reads —
  `.parquet` files, skipping `_*` and `.*` names the way Spark's file
  index does (`_history/`, `_rewrite-*/`, `_staging/`, `_delta_log/`).
- `footer_stats(path)`: numRecords/minValues/maxValues/nullCount from
  the parquet footer (Delta's `add.stats` shape): a ~KB metadata read
  on the driver, no Spark job, no data IO.
- `refresh(manifest, cols, new)`: footer-reads only the files named in
  `new` (a produce lists nothing), or re-lists the directory, reads the
  files the manifest lacks and drops entries for files that are gone
  (after maintenance rewrites). Hive `col=value` path segments give
  partition columns `[v, v]`.
- `prune(manifest, predicates)` intersects each file's [min, max] with
  the predicate intervals on the driver; `scan` is the one pruned read.

Pruning is advisory, never a correctness gate: a missing manifest, a
file missing from it, or a column without comparable footer min/max
(timestamps, binary values, strings over 4 KB) keeps the file, and every
caller re-applies its predicate to the survivors. Combined with
zorder_table (which co-locates correlated ranges per file), a narrow
predicate touches O(matching) files instead of O(all).
"""

from __future__ import annotations

import os
import time
import urllib.parse
from typing import Any

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F

from tansu_spark.broker.state import read_json, write_json_atomic

def _hidden(name: str) -> bool:
    """Spark's file-index filter: `_*` (unless a `k=v` partition dir)
    and `.*` names are metadata, staging or history, never table data."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def live_files(root: str) -> list[str]:
    """Sorted paths, relative to `root`, of the parquet files a plain
    `spark.read.parquet(root)` reads. A missing root lists nothing."""
    out = []
    for d, dirs, names in os.walk(root):
        dirs[:] = [x for x in dirs if not _hidden(x)]
        out += [
            os.path.relpath(os.path.join(d, n), root)
            for n in names
            if n.endswith(".parquet") and not _hidden(n)
        ]
    return sorted(out)


def partition_values(rel: str) -> dict[str, str]:
    """Hive-style `col=value` directory segments -> {col: value} (the
    Delta spec's map<string,string>; values stay URL-decoded strings)."""
    out: dict[str, str] = {}
    for seg in rel.replace(os.sep, "/").split("/")[:-1]:
        if "=" in seg and not _hidden(seg):
            k, _, v = seg.partition("=")
            out[k] = urllib.parse.unquote(v)
    return out


def _json_safe(v: Any) -> Any:
    """Footer statistics value -> JSON-safe scalar (spec stats are plain
    JSON). Binary and exotic types return None => the column is skipped,
    which readers treat as 'no stats' (never wrong, just not skippable)."""
    import datetime
    import decimal

    if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
        return None  # NaN/Inf have no strict-JSON form -> no stats
    if isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return None


def footer_stats(path: str) -> dict[str, Any]:
    """Per-file stats from the parquet FOOTER only: numRecords plus
    min/max/nullCount per top-level leaf column (nested columns and
    columns with missing footer stats are skipped)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, int] = {}
    skip: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for c in range(g.num_columns):
            col = g.column(c)
            name = col.path_in_schema
            if "." in name or name in skip:  # nested leaf -> skip
                continue
            st = col.statistics
            lo = hi = None
            if st is not None and st.has_min_max:
                lo, hi = _json_safe(st.min), _json_safe(st.max)
            if lo is None or hi is None:
                skip.add(name)
                for d in (mins, maxs, nulls):
                    d.pop(name, None)
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
            if st.null_count is None:
                # ANY row group without a null count makes the column's
                # total unknowable — an undercount would let readers
                # wrongly prune IS NULL predicates, so drop it entirely
                # (None marks it dropped for later row groups).
                nulls[name] = None  # type: ignore[assignment]
            elif nulls.get(name, 0) is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
    return {
        "numRecords": md.num_rows,
        "minValues": mins,
        "maxValues": maxs,
        "nullCount": {k: v for k, v in nulls.items() if v is not None},
    }


def _typed(v: str) -> Any:
    """A partition directory value as Spark's partition discovery types
    it: integer, else double, else the string; the null partition is
    None (no stats)."""
    if v == "__HIVE_DEFAULT_PARTITION__":
        return None
    for cast in (int, float):
        try:
            return cast(v)
        except ValueError:
            pass
    return v


def _orderable(v: Any) -> Any:
    """None for a footer timestamp: it arrives as an ISO-8601 UTC string
    ('T', offset) that does not order against Spark's `yyyy-MM-dd
    HH:mm:ss` strings. A string value shaped like one loses its stats too."""
    return None if isinstance(v, str) and v[10:11] == "T" else v


def _entry(root: str, rel: str, cols: list[str]) -> dict[str, list[Any]]:
    st = footer_stats(os.path.join(root, rel))
    part = partition_values(rel)
    return {
        c: [_typed(part[c])] * 2
        if c in part
        else [_orderable(st["minValues"].get(c)), _orderable(st["maxValues"].get(c))]
        for c in cols
    }


def refresh(
    manifest: str, cols: list[str], new: list[str] | None = None
) -> dict[str, Any]:
    """Bring the manifest at `manifest` (its directory is the indexed
    root) up to date and return it. `new` (absolute paths) are the only
    files footer-read; with `new=None` the root is re-listed, files the
    manifest lacks are read and entries for vanished files dropped. A
    manifest built for other columns is rebuilt. The write is atomic, so
    a concurrent `prune` never parses a torn file."""
    root = os.path.dirname(manifest)
    doc = read_json(manifest, {})
    files = doc.get("files", {}) if doc.get("columns") == cols else {}
    if new is None:
        live = live_files(root)
        files = {rel: files[rel] for rel in live if rel in files}
        new = [os.path.join(root, rel) for rel in live]
    for path in new:
        rel = os.path.relpath(path, root)
        if rel not in files:
            files[rel] = _entry(root, rel, cols)
    doc = {"columns": cols, "created_at": time.time(), "files": files}
    write_json_atomic(manifest, doc)
    return doc


def _disjoint(st: list[Any] | None, lo: Any, hi: Any) -> bool:
    """True only when the file's [min, max] provably misses [lo, hi]."""
    if not st or st[0] is None or st[1] is None:
        return False
    try:
        return (hi is not None and st[0] > hi) or (lo is not None and st[1] < lo)
    except TypeError:  # predicate and stats of incomparable types: keep
        return False


def prune(
    manifest: str, predicates: dict[str, tuple[Any, Any]]
) -> tuple[list[str], int]:
    """(surviving absolute paths, n_skipped) over the root's live files.
    `predicates` maps column -> (lo, hi) closed interval (None =
    unbounded on that side); a file survives unless some interval is
    disjoint from its [min, max]. Files are listed as they ARE, not as
    the manifest remembers them, so files written after the last refresh
    carry no stats and are kept."""
    root = os.path.dirname(manifest)
    known = read_json(manifest, {}).get("files", {})
    keep, skipped = [], 0
    for rel in live_files(root):
        st = known.get(rel, {})
        if any(_disjoint(st.get(c), lo, hi) for c, (lo, hi) in predicates.items()):
            skipped += 1
        else:
            keep.append(os.path.join(root, rel))
    return keep, skipped


def scan(
    reader: DataFrameReader, manifest: str, predicates: dict[str, tuple[Any, Any]]
) -> DataFrame:
    """The one pruned read: the root's files that survive `prune`, read
    with `basePath` (partition columns still resolve) — or the plain
    directory read when nothing is pruned. ignoreMissingFiles: a
    maintenance rewrite may remove a listed file before a task opens it,
    and readers take no lock. Callers re-apply `predicates` themselves."""
    root = os.path.dirname(manifest)
    reader = reader.option("ignoreMissingFiles", "true")
    files, skipped = prune(manifest, predicates)
    if not skipped:
        return reader.parquet(root)
    if not files:
        return reader.parquet(root).limit(0)  # keeps the schema
    return reader.option("basePath", root).parquet(*files)


# ------------------------------------------------ lake-table entry points


def _stats_path(table_dir: str) -> str:
    return os.path.join(table_dir, "_stats.json")


def collect_stats(
    spark: SparkSession, table_dir: str, cols: list[str]
) -> dict[str, Any]:
    """Refresh the table's min/max manifest for `cols` from file footers
    (no Spark job). Re-run after compact/zorder/retention rewrites
    (Maintainer does); only files new since the last run are read."""
    return refresh(_stats_path(table_dir), cols)


def load_stats(table_dir: str) -> dict[str, Any] | None:
    return read_json(_stats_path(table_dir), None)


def prune_files(
    table_dir: str, predicates: dict[str, tuple[Any, Any]]
) -> tuple[list[str], int]:
    return prune(_stats_path(table_dir), predicates)


def pruned_read(
    spark: SparkSession, table_dir: str, predicates: dict[str, tuple[Any, Any]]
) -> DataFrame:
    """Read only the files whose stats intersect every predicate interval,
    then re-apply the predicates as real filters (pruning is a fast-path,
    not the correctness boundary)."""
    df = scan(spark.read, _stats_path(table_dir), predicates)
    for col, (lo, hi) in predicates.items():
        if lo is not None:
            df = df.filter(F.col(col) >= lo)
        if hi is not None:
            df = df.filter(F.col(col) <= hi)
    return df
