"""Delta Lake transaction-log EXPORT for parquet-native lake tables.

The reference's primary lake sink commits through delta-rs's transaction
log (nisshi-schema/src/lake/delta.rs:99-178 write/flush_and_commit
path). No Delta runtime ships in this container (COVERAGE.md env-gate
section), so `lake/snapshots.py` keeps versioning in an explicit
`_snapshots.json` manifest. This module closes the remaining interop
gap from the EXPORT side: it materializes that manifest as a real
`_delta_log/` — spec-format JSON commits (public PROTOCOL.md of the
delta-io project: protocol / metaData / add / remove / commitInfo
actions, one JSON object per line, `%020d.json` naming) — so the table
directory is adoptable by any Delta reader without rewriting a byte of
data.

What is guaranteed, and what is not (both by construction):

- The LATEST snapshot replayed from the exported log is exactly the
  live file set of the manifest's latest version; every `add` path
  exists on disk at export time (asserted). Any Delta reader sees the
  same rows our `read_snapshot(latest)` sees.
- HISTORICAL commits are emitted as recorded, but our maintenance
  RELOCATES replaced files into `_history/` immediately (equivalent to
  a Delta VACUUM with retention 0) — so time-traveling the exported log
  to an old version may hit missing files, exactly as after an
  aggressive VACUUM on a real Delta table. Time travel through OUR
  engine (`read_snapshot`) keeps working via the relocation map.
- `add.stats` carries per-file numRecords/minValues/maxValues/nullCount
  harvested from parquet FOOTERS (O(files) metadata reads, no data
  scan) so external readers get data skipping.
- Shallow-clone external references (paths escaping the table root)
  are emitted as absolute `file://` URIs — the same mechanism a real
  Delta shallow clone uses.
- Tables with live merge-on-read deletion vectors (`_dv/`, lake/dv.py)
  are REFUSED: our DV sidecar is not Delta's roaring-bitmap format, and
  exporting base files alone would resurrect deleted rows. Compact the
  DVs away first (DvTable.rewritten_files + rewrite), then export.
- Every CHECKPOINT_INTERVAL commits the export also writes the spec
  `%020d.checkpoint.parquet` + `_last_checkpoint`, so reader bootstrap
  is O(1 checkpoint + <=interval JSON commits) however long the table
  lives, and commits at or before the checkpoint can be truncated
  (log retention) without losing the table.

Schema note: `metaData` is emitted in commit 0 with the table's CURRENT
schema (read from live footers). Our schema migrations are add-only
(lake/sink.py _migrate_schema), so the current schema is the mergeSchema
superset — the correct read schema for every commit, matching how
readers resolve columns missing from older files (null-filled).
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from tansu_spark.lake.snapshots import load_manifest
from tansu_spark.lake.stats import footer_stats, live_files, partition_values

DELTA_LOG_DIR = "_delta_log"
_ENGINE = "tansu-spark"

# Spec checkpointing: every N commits the full replay STATE is written
# as `%020d.checkpoint.parquet` + `_last_checkpoint`, so readers
# bootstrap in O(1 checkpoint + <=N JSON commits) instead of O(all
# commits), and commits at or before the checkpoint can be TRUNCATED
# (log retention) without losing the table. 10 matches the Delta
# writers' default. Tombstoned `remove` entries are NOT carried into
# checkpoints: our maintenance relocates replaced files immediately
# (retention 0), so there is no un-vacuumed window a tombstone would
# protect.
CHECKPOINT_INTERVAL = 10


def _log_dir(table_dir: str) -> str:
    return os.path.join(table_dir, DELTA_LOG_DIR)


def _commit_path(table_dir: str, version: int) -> str:
    return os.path.join(_log_dir(table_dir), f"{version:020d}.json")


def _checkpoint_path(table_dir: str, version: int) -> str:
    return os.path.join(_log_dir(table_dir), f"{version:020d}.checkpoint.parquet")


def _last_checkpoint_path(table_dir: str) -> str:
    return os.path.join(_log_dir(table_dir), "_last_checkpoint")


def _last_checkpoint_version(table_dir: str) -> int:
    """-1 when no checkpoint exists."""
    p = _last_checkpoint_path(table_dir)
    if not os.path.exists(p):
        return -1
    return int(json.load(open(p))["version"])


def _add_action(table_dir: str, rel: str, with_stats: bool) -> dict[str, Any]:
    if rel.startswith(".."):
        # Shallow-clone external ref: absolute file URI (spec-permitted;
        # how real Delta shallow clones reference source files).
        abs_path = os.path.normpath(os.path.join(table_dir, rel))
        path = "file://" + urllib.parse.quote(abs_path)
    else:
        abs_path = os.path.join(table_dir, rel)
        path = urllib.parse.quote(rel.replace(os.sep, "/"))
    add: dict[str, Any] = {
        "path": path,
        "partitionValues": partition_values(rel),
        "size": os.path.getsize(abs_path),
        "modificationTime": int(os.path.getmtime(abs_path) * 1000),
        "dataChange": True,
    }
    if with_stats:
        add["stats"] = json.dumps(footer_stats(abs_path), sort_keys=True)
    return add


def export_delta_log(
    spark: SparkSession, table_dir: str, with_stats: bool = True
) -> int:
    """Materialize `_snapshots.json` as a `_delta_log/`, one Delta JSON
    commit per manifest version. Incremental and idempotent: commits
    already on disk are left untouched; only manifest versions beyond
    the last exported commit are written. Returns the latest version.
    """
    doc = load_manifest(table_dir)
    if doc is None or not doc["versions"]:
        raise FileNotFoundError(f"no snapshots committed in {table_dir}")
    # DvTable lays out <root>/{data,_dv}; cover both the table dir itself
    # and the sibling position so exporting a DvTable's data_dir cannot
    # silently resurrect deleted rows.
    candidates = (
        os.path.join(table_dir, "_dv"),
        os.path.join(os.path.dirname(os.path.abspath(table_dir)), "_dv"),
    )
    if any(live_files(dv) for dv in candidates):
        raise RuntimeError(
            f"{table_dir} has live merge-on-read deletion vectors (_dv/),"
            " which are not Delta's DV format — a Delta reader of the"
            " exported log would resurrect deleted rows. Compact them"
            " first (DvTable.rewritten_files + rewrite), then export."
        )
    os.makedirs(_log_dir(table_dir), exist_ok=True)

    versions = doc["versions"]
    latest = versions[-1]
    # The interop guarantee: every file of the LATEST version resolves.
    for rel in latest["files"]:
        p = os.path.normpath(os.path.join(table_dir, rel))
        if not os.path.exists(p):
            raise FileNotFoundError(
                f"latest version {latest['v']} references missing file"
                f" {rel}; repair the table before exporting a Delta log"
            )

    existing = sorted(
        int(n[:-5])
        for n in os.listdir(_log_dir(table_dir))
        if n.endswith(".json")
    )
    base_v = max(
        existing[-1] if existing else -1, _last_checkpoint_version(table_dir)
    )
    prev: list[str] = []
    if base_v >= 0:
        # Incremental export: the baseline file set is what the on-disk
        # log already replays to — NOT the previous manifest entry, which
        # expire_snapshots may have dropped (computing the diff against
        # an empty prev would re-add files the log already removed).
        prev = _replay_rel(table_dir, base_v)
    elif versions[0]["v"] != 0:
        raise RuntimeError(
            f"cannot bootstrap a Delta log for {table_dir}: snapshot"
            f" history starts at version {versions[0]['v']} (older"
            " versions were expired before the first export) and a log"
            " without version 0 or a checkpoint is unreadable. Export"
            " before expiring, or re-create the table."
        )
    for entry in versions:
        if entry["v"] <= base_v:
            continue
        out = _commit_path(table_dir, entry["v"])
        ts_ms = int(entry["ts"] * 1000)
        actions: list[dict[str, Any]] = [
            {
                "commitInfo": {
                    "timestamp": ts_ms,
                    "operation": entry.get("operation", "append").upper(),
                    "operationParameters": {},
                    "engineInfo": _ENGINE,
                }
            }
        ]
        if entry["v"] == 0:
            live0 = [
                os.path.join(table_dir, f)
                for f in entry["files"]
                if os.path.exists(os.path.join(table_dir, f))
            ]
            # Current (add-only-superset) schema; see module docstring.
            schema_src = live0 or [
                os.path.normpath(os.path.join(table_dir, f))
                for f in latest["files"]
            ]
            reader = spark.read.option("mergeSchema", "true")
            root = os.path.abspath(table_dir)
            if all(
                os.path.abspath(p).startswith(root + os.sep)
                for p in schema_src
            ):
                # basePath folds hive partition directories into the
                # schema — the spec requires partition columns in
                # schemaString. (Clone-external refs escape the root and
                # carry no partition dirs of this table; skip then.)
                reader = reader.option("basePath", table_dir)
            schema = reader.parquet(*schema_src).schema
            part_cols = sorted(
                {k for f in entry["files"] for k in partition_values(f)}
            )
            actions += [
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                {
                    "metaData": {
                        "id": str(
                            uuid.uuid5(uuid.NAMESPACE_URL, os.path.abspath(table_dir))
                        ),
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema.json(),
                        "partitionColumns": part_cols,
                        "configuration": {},
                        "createdTime": ts_ms,
                    }
                },
            ]
        cur = set(entry["files"])
        for rel in sorted(set(prev) - cur):
            actions.append(
                {
                    "remove": {
                        "path": urllib.parse.quote(rel.replace(os.sep, "/")),
                        "deletionTimestamp": ts_ms,
                        "dataChange": True,
                    }
                }
            )
        for rel in sorted(cur - set(prev)):
            # Historical adds may reference since-relocated files (the
            # retention-0 caveat in the module docstring); stats need the
            # bytes, so resolve through the relocation map for footers.
            stats_ok = with_stats
            if not os.path.exists(os.path.normpath(os.path.join(table_dir, rel))):
                hist = doc["relocations"].get(rel)
                if hist and os.path.exists(os.path.join(table_dir, hist)):
                    a = _add_action(table_dir, hist, stats_ok)
                    a["path"] = urllib.parse.quote(rel.replace(os.sep, "/"))
                    actions.append({"add": a})
                    continue
                stats_ok = False
                a = {
                    "path": urllib.parse.quote(rel.replace(os.sep, "/")),
                    "partitionValues": partition_values(rel),
                    "size": 0,
                    "modificationTime": ts_ms,
                    "dataChange": True,
                }
                actions.append({"add": a})
                continue
            actions.append({"add": _add_action(table_dir, rel, stats_ok)})
        tmp = out + ".tmp"
        with open(tmp, "w") as f:
            f.write("\n".join(json.dumps(a, sort_keys=True) for a in actions) + "\n")
        os.replace(tmp, out)
        prev = entry["files"]
    # Spec checkpoint cadence: once the tail past the last checkpoint
    # reaches CHECKPOINT_INTERVAL commits, snapshot the replay state so
    # bootstrap stays O(1 checkpoint + <=interval commits) forever.
    if latest["v"] - _last_checkpoint_version(table_dir) >= CHECKPOINT_INTERVAL:
        write_checkpoint(table_dir, latest["v"])
    return latest["v"]


def _replay_rel(table_dir: str, version: int) -> list[str]:
    """Replay the on-disk log to manifest-style rel paths (shallow-clone
    `file://` URIs map back to their `../` form so incremental diffs
    against manifest entries align)."""
    paths, _ = replay_delta_log(table_dir, version)
    out = []
    for p in paths:
        if p.startswith("file://"):
            out.append(os.path.relpath(p[len("file://") :], table_dir))
        else:
            out.append(p)
    return sorted(out)


def _replay_actions(
    table_dir: str, version: int | None = None
) -> tuple[dict[str, dict[str, Any]], dict[str, Any], dict[str, Any], int]:
    """Checkpoint-aware replay, the way any Delta reader bootstraps:
    load the newest usable checkpoint (if one exists at or before the
    requested version), then apply the JSON commits after it in order.
    Returns ({url-DECODED path -> latest add action}, metaData,
    protocol, resolved_version). Missing commits in the required range
    raise by name — a gap is corruption, never silent partial state."""
    log = _log_dir(table_dir)
    if not os.path.isdir(log):
        raise FileNotFoundError(f"no {DELTA_LOG_DIR} in {table_dir}")
    commits = sorted(
        int(n[:-5]) for n in os.listdir(log) if n.endswith(".json")
    )
    ckpt_v = _last_checkpoint_version(table_dir)
    if not commits and ckpt_v < 0:
        raise FileNotFoundError(f"empty {DELTA_LOG_DIR} in {table_dir}")
    if version is None:
        version = max(commits[-1] if commits else -1, ckpt_v)
    if version not in commits and version != ckpt_v:
        raise KeyError(
            f"version {version} not in exported log; have commits"
            f" {commits}, checkpoint at {ckpt_v if ckpt_v >= 0 else None}"
        )

    adds: dict[str, dict[str, Any]] = {}
    meta: dict[str, Any] = {}
    proto: dict[str, Any] = {}
    start = 0
    if 0 <= ckpt_v <= version:
        import pyarrow.parquet as pq

        for row in pq.read_table(_checkpoint_path(table_dir, ckpt_v)).to_pylist():
            if row.get("protocol"):
                proto = row["protocol"]
            elif row.get("metaData"):
                m = dict(row["metaData"])
                if isinstance(m.get("configuration"), list):
                    m["configuration"] = dict(m["configuration"])
                if isinstance(m.get("format"), dict) and isinstance(
                    m["format"].get("options"), list
                ):
                    m["format"]["options"] = dict(m["format"]["options"])
                meta = m
            elif row.get("add"):
                a = dict(row["add"])
                if isinstance(a.get("partitionValues"), list):
                    a["partitionValues"] = dict(a["partitionValues"])
                if a.get("stats") is None:
                    a.pop("stats", None)
                adds[urllib.parse.unquote(a["path"])] = a
        start = ckpt_v + 1
    for v in range(start, version + 1):
        p = _commit_path(table_dir, v)
        if not os.path.exists(p):
            raise FileNotFoundError(
                f"commit {v} missing from {DELTA_LOG_DIR} (replay needs"
                f" {start}..{version}); the log is truncated past its"
                " last checkpoint or corrupted"
            )
        with open(p) as f:
            for line in f:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "add" in action:
                    adds[urllib.parse.unquote(action["add"]["path"])] = action["add"]
                elif "remove" in action:
                    adds.pop(urllib.parse.unquote(action["remove"]["path"]), None)
                elif "metaData" in action:
                    meta = action["metaData"]
                elif "protocol" in action:
                    proto = action["protocol"]
    return adds, meta, proto, version


def replay_delta_log(
    table_dir: str, version: int | None = None
) -> tuple[list[str], dict[str, Any]]:
    """Pure log replay (checkpoint bootstrap + JSON tail): the
    (url-DECODED) live paths sorted, plus the reconstructed metaData.
    This is the verification twin of `read_snapshot` — tests pin
    replay(log) == manifest for every version."""
    adds, meta, _, _ = _replay_actions(table_dir, version)
    return sorted(adds), meta


def write_checkpoint(table_dir: str, version: int | None = None) -> int:
    """Write the spec checkpoint for `version` (default: latest): one
    parquet FILE holding the full replay state (protocol / metaData /
    every live add), plus `_last_checkpoint`. After this, JSON commits
    at or before `version` may be deleted (log retention) and replay
    still reconstructs every version from `version` on."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    adds, meta, proto, version = _replay_actions(table_dir, version)
    proto = proto or {"minReaderVersion": 1, "minWriterVersion": 2}

    schema = pa.schema(
        [
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        (
                            "format",
                            pa.struct(
                                [
                                    ("provider", pa.string()),
                                    ("options", pa.map_(pa.string(), pa.string())),
                                ]
                            ),
                        ),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", pa.map_(pa.string(), pa.string())),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", pa.map_(pa.string(), pa.string())),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                    ]
                ),
            ),
        ]
    )
    rows: list[dict[str, Any]] = [
        {"protocol": proto, "metaData": None, "add": None},
        {
            "protocol": None,
            "metaData": {
                "id": meta.get("id"),
                "format": {
                    "provider": meta.get("format", {}).get("provider", "parquet"),
                    "options": list(
                        meta.get("format", {}).get("options", {}).items()
                    ),
                },
                "schemaString": meta.get("schemaString"),
                "partitionColumns": meta.get("partitionColumns", []),
                "configuration": list(meta.get("configuration", {}).items()),
                "createdTime": meta.get("createdTime"),
            },
            "add": None,
        },
    ]
    for path in sorted(adds):
        a = adds[path]
        rows.append(
            {
                "protocol": None,
                "metaData": None,
                "add": {
                    "path": a["path"],
                    "partitionValues": list(a.get("partitionValues", {}).items()),
                    "size": a.get("size", 0),
                    "modificationTime": a.get("modificationTime", 0),
                    "dataChange": bool(a.get("dataChange", True)),
                    "stats": a.get("stats"),
                },
            }
        )
    out = _checkpoint_path(table_dir, version)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), out)
    with open(_last_checkpoint_path(table_dir) + ".tmp", "w") as f:
        json.dump({"version": version, "size": len(rows)}, f)
    os.replace(
        _last_checkpoint_path(table_dir) + ".tmp", _last_checkpoint_path(table_dir)
    )
    return version


def read_via_delta_log(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the table exactly as an external Delta reader would: file
    list from log replay, schema from metaData.schemaString, partition
    columns parsed against the table root. Missing files raise the same
    descriptive expired-snapshot error contract as `read_snapshot` (the
    retention-0 relocation caveat — the latest version never hits it)."""
    from pyspark.sql.types import StructType

    paths, meta = replay_delta_log(table_dir, version)
    resolved = []
    for p in paths:
        if p.startswith("file://"):
            raise NotImplementedError(
                "external (shallow-clone) file URIs are exported for real"
                " Delta readers; in-engine reads of clones go through"
                " read_snapshot, which resolves them with the correct"
                " per-root basePath"
            )
        abs_p = os.path.join(table_dir, p)
        if not os.path.exists(abs_p):
            raise FileNotFoundError(
                f"version {version} of the exported log references {p},"
                f" which was relocated by maintenance (retention-0"
                f" equivalent); use read_snapshot for in-engine time travel"
            )
        resolved.append(abs_p)
    reader = spark.read.option("mergeSchema", "true").option(
        "basePath", table_dir
    )
    if meta.get("schemaString"):
        reader = reader.schema(StructType.fromJson(json.loads(meta["schemaString"])))
    return reader.parquet(*resolved)
