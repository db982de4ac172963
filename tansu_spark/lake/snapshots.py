"""Snapshot versioning (time travel) for parquet-native lake tables.

Reference parity: the reference's Delta sink gets table versions, time
travel, and VACUUM from delta-rs's transaction log
(nisshi-schema/src/lake/delta.rs commit/checkpoint path). Neither Delta
nor Iceberg ships in this container, so the same contract is kept with
an explicit `_snapshots.json` manifest:

- every committed write appends a VERSION: the list of live data files
  (paths relative to the table root) at commit time;
- maintenance rewrites RELOCATE replaced files into `_history/<batch>/`
  instead of deleting them — Spark ignores `_`-prefixed directories, so
  current-table reads see only live files, while older versions resolve
  their files through the relocation map;
- `expire_snapshots` is VACUUM: drop old versions and physically delete
  the history files only they reference.

Scale notes: the manifest holds file PATHS only (a few hundred bytes per
file per version — the same order as a Delta log JSON entry); reads of a
version are explicit-file-list parquet scans with `basePath` set per
root, so partition-directory columns still resolve. Relocation is
`os.replace` — a same-filesystem rename, O(1) per file, no data copy.
"""

from __future__ import annotations

import os
import time
import uuid
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from tansu_spark.broker.state import read_json, write_json_atomic
from tansu_spark.lake.stats import live_files

SNAPSHOTS_NAME = "_snapshots.json"
HISTORY_DIR = "_history"


def _manifest_path(table_dir: str) -> str:
    return os.path.join(table_dir, SNAPSHOTS_NAME)


def load_manifest(table_dir: str) -> dict[str, Any] | None:
    return read_json(_manifest_path(table_dir), None)


def commit_snapshot(table_dir: str, operation: str = "append", force: bool = False) -> int:
    """Record the current live file set as the next table version.
    Returns the new version number. Idempotent for an unchanged file set
    (re-commits with identical files are collapsed) unless `force` — used
    by RESTORE, which like Delta always records the operation even when
    the restored file set equals the current one."""
    doc = read_json(_manifest_path(table_dir), {"versions": [], "relocations": {}})
    files = live_files(table_dir)
    if doc["versions"]:
        # SHALLOW-CLONE support: external references (paths escaping the
        # table root, written by clone_shallow) are not found by the
        # local file walk — they carry forward on every commit until a
        # rewrite replaces them.
        external = [
            f for f in doc["versions"][-1]["files"] if f.startswith("..")
        ]
        files = sorted(set(files) | set(external))
    if not force and doc["versions"] and doc["versions"][-1]["files"] == files:
        return doc["versions"][-1]["v"]
    v = doc["versions"][-1]["v"] + 1 if doc["versions"] else 0
    doc["versions"].append(
        {"v": v, "ts": time.time(), "operation": operation, "files": files}
    )
    write_json_atomic(_manifest_path(table_dir), doc)
    return v


def relocate_for_rewrite(table_dir: str, abs_files: list[str]) -> None:
    """Move about-to-be-replaced files into `_history/<batch>/` so the
    versions that reference them stay readable. Called by maintenance
    rewrites when the table has a snapshot manifest; without one, the
    caller deletes as before (no time travel, no storage growth)."""
    doc = read_json(_manifest_path(table_dir), {"versions": [], "relocations": {}})
    batch = uuid.uuid4().hex[:12]
    for f in abs_files:
        rel = os.path.relpath(f, table_dir)
        dest_rel = os.path.join(HISTORY_DIR, batch, rel)
        dest = os.path.join(table_dir, dest_rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.replace(f, dest)
        doc["relocations"][rel] = dest_rel
    write_json_atomic(_manifest_path(table_dir), doc)


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """The table AS OF `version` (default: latest). Files are resolved
    live-first, then through the relocation map; a file gone from both is
    an expired snapshot — a clear error, never silent partial data."""
    doc = load_manifest(table_dir)
    if doc is None or not doc["versions"]:
        raise FileNotFoundError(f"no snapshots committed in {table_dir}")
    by_v = {e["v"]: e for e in doc["versions"]}
    if version is None:
        version = doc["versions"][-1]["v"]
    if version not in by_v:
        raise KeyError(
            f"version {version} not found in {table_dir}; have {sorted(by_v)}"
        )
    # Group resolved files by the basePath that makes their partition
    # directories parse: the table root for live files, the history batch
    # root for relocated ones.
    groups: dict[str, list[str]] = {}
    src_root = doc.get("clone_of")
    for rel in by_v[version]["files"]:
        live = os.path.normpath(os.path.join(table_dir, rel))
        if os.path.exists(live):
            # A shallow clone's external refs parse partition dirs
            # against the SOURCE table root, not the clone's — and when
            # the ref resolved (at clone time) into the source's
            # _history/<batch>/, the batch root is the basePath, exactly
            # like the local relocation branch below; src_root alone
            # would make Spark parse `_history/<batch>` as partition
            # directory segments.
            root = (
                os.path.normpath(src_root)
                if src_root
                and live.startswith(os.path.normpath(src_root) + os.sep)
                else table_dir
            )
            in_root = os.path.relpath(live, root).split(os.sep)
            base = (
                os.path.join(root, *in_root[:2])
                if len(in_root) > 2 and in_root[0] == HISTORY_DIR
                else root
            )
            groups.setdefault(base, []).append(live)
            continue
        hist_rel = doc["relocations"].get(rel)
        if hist_rel is None or not os.path.exists(os.path.join(table_dir, hist_rel)):
            clone_note = (
                f" (shallow clone of {src_root}: source-side maintenance"
                f" after the clone invalidates external refs)"
                if src_root
                else ""
            )
            raise FileNotFoundError(
                f"version {version} of {table_dir} is expired: {rel} was"
                f" vacuumed{clone_note}"
            )
        # basePath = _history/<batch>; the remainder mirrors the table layout.
        parts = hist_rel.split(os.sep)
        base = os.path.join(table_dir, *parts[:2])
        groups.setdefault(base, []).append(os.path.join(table_dir, hist_rel))
    frames = [
        spark.read.option("mergeSchema", "true")
        .option("basePath", base)
        .parquet(*sorted(fs))
        for base, fs in sorted(groups.items())
    ]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def restore_version(table_dir: str, version: int) -> int:
    """RESTORE the table to an old snapshot as a NEW commit (Delta's
    `RESTORE TABLE ... TO VERSION AS OF n`; the reference gets the same
    from delta-rs's transaction log, nisshi-schema/src/lake/delta.rs
    commit path): the target version's files become the LIVE file set —
    so plain `spark.read.parquet(table_dir)` (and every other engine
    pointed at the directory) sees the restored data, not just
    `read_snapshot` — and a new version is committed on top, so the
    restore itself is time-travelable and undoable. Intermediate
    versions stay readable: files displaced by the restore are relocated
    into history exactly like a maintenance rewrite, never deleted.

    Scale notes: O(files changed between current and target) same-
    filesystem renames, no data copied — the same cost profile as Delta,
    where RESTORE writes only log entries. Returns the new version."""
    doc = load_manifest(table_dir)
    if doc is None or not doc["versions"]:
        raise FileNotFoundError(f"no snapshots committed in {table_dir}")
    by_v = {e["v"]: e for e in doc["versions"]}
    if version not in by_v:
        raise KeyError(
            f"version {version} not found in {table_dir}; have {sorted(by_v)}"
        )
    target = set(by_v[version]["files"])
    # PASS 1 — resolve the full plan before touching the filesystem, so a
    # partially-vacuumed target version raises with the live set intact
    # (Delta RESTORE is log-only and therefore all-or-nothing; mutating
    # mid-validation would leave duplicated data live on failure).
    moves: list[tuple[str, str, str]] = []  # (hist_abs, live_abs, rel)
    missing = []
    for rel in sorted(target):
        live = os.path.join(table_dir, rel)
        if os.path.exists(live):
            continue
        hist_rel = doc["relocations"].get(rel)
        if hist_rel is None or not os.path.exists(os.path.join(table_dir, hist_rel)):
            missing.append(rel)
            continue
        moves.append((os.path.join(table_dir, hist_rel), live, rel))
    if missing:
        raise FileNotFoundError(
            f"cannot restore {table_dir} to version {version}: "
            f"{len(missing)} file(s) were vacuumed, e.g. {missing[0]}"
        )
    # PASS 2 — the plan validated in full; now perform the renames and
    # drop the now-stale relocation entries.
    for hist_abs, live, rel in moves:
        os.makedirs(os.path.dirname(live), exist_ok=True)
        os.replace(hist_abs, live)
        del doc["relocations"][rel]
    write_json_atomic(_manifest_path(table_dir), doc)
    # Files live now but absent from the target version: relocate to
    # history so the versions that reference them keep resolving.
    displaced = [
        os.path.join(table_dir, rel)
        for rel in live_files(table_dir)
        if rel not in target
    ]
    if displaced:
        relocate_for_rewrite(table_dir, displaced)
    # force=True: RESTORE always records a version entry, even when the
    # restored file set equals the current live set (Delta parity).
    return commit_snapshot(table_dir, operation=f"restore(v{version})", force=True)


def expire_snapshots(table_dir: str, keep_last: int = 1) -> int:
    """VACUUM: keep only the newest `keep_last` versions; physically
    delete history files referenced solely by dropped versions. Returns
    the number of files deleted. Live files are never touched."""
    doc = load_manifest(table_dir)
    if doc is None:
        return 0
    keep = doc["versions"][-keep_last:] if keep_last > 0 else []
    kept_files = {f for e in keep for f in e["files"]}
    deleted = 0
    relocations = {}
    for rel, hist_rel in doc["relocations"].items():
        if rel in kept_files:
            relocations[rel] = hist_rel
            continue
        p = os.path.join(table_dir, hist_rel)
        if os.path.exists(p):
            os.unlink(p)
            deleted += 1
    doc["versions"] = keep
    doc["relocations"] = relocations
    write_json_atomic(_manifest_path(table_dir), doc)
    # Sweep now-empty history batch directories.
    hist_root = os.path.join(table_dir, HISTORY_DIR)
    if os.path.isdir(hist_root):
        for root, _dirs, _names in os.walk(hist_root, topdown=False):
            if root != hist_root and not os.listdir(root):
                os.rmdir(root)
    return deleted


def clone_shallow(
    src_dir: str, dst_dir: str, version: int | None = None
) -> int:
    """ZERO-COPY SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE`,
    which the reference inherits through delta-rs): the clone's manifest
    REFERENCES the source version's physical files (relative external
    paths resolved at clone time — live or already-relocated history
    locations), copying no data. Histories diverge from here: appends to
    the clone write local files and carry the external refs forward
    (commit_snapshot's external-carry rule); the source never sees
    clone writes; expiring clone snapshots can never delete source files
    (expire unlinks only paths in the clone's OWN relocation map).

    Like Delta, a shallow clone is LOG-DEFINED: read it through
    read_snapshot (explicit file list); a plain directory scan of
    dst_dir sees only files written after the clone.

    HAZARD (same as Delta's documented shallow-clone/VACUUM interaction):
    the converse of the expiry guarantee does NOT hold — SOURCE-side
    maintenance after the clone (compact_table relocation or
    expire_snapshots on the source) moves or deletes the physical files
    the clone's external refs point at, silently invalidating the clone:
    its reads then fail as 'expired' even for the clone's latest version
    (read_snapshot's error names the clone source so the failure is
    diagnosable). Treat clones as snapshots to consume before source
    VACUUM, or deep-copy before source maintenance."""
    doc = load_manifest(src_dir)
    if doc is None or not doc["versions"]:
        raise FileNotFoundError(f"no snapshots committed in {src_dir}")
    by_v = {e["v"]: e for e in doc["versions"]}
    if version is None:
        version = doc["versions"][-1]["v"]
    if version not in by_v:
        raise KeyError(f"version {version} not found in {src_dir}")
    refs = []
    for rel in by_v[version]["files"]:
        live = os.path.join(src_dir, rel)
        if os.path.exists(live):
            phys = live
        else:
            # Mirror restore_version's pass-1 validation: a partially
            # vacuumed source version is a clear error, not a KeyError.
            hist_rel = doc["relocations"].get(rel)
            if hist_rel is None or not os.path.exists(
                os.path.join(src_dir, hist_rel)
            ):
                raise FileNotFoundError(
                    f"cannot clone {src_dir}@{version}: {rel} was vacuumed"
                )
            phys = os.path.join(src_dir, hist_rel)
        refs.append(os.path.relpath(os.path.abspath(phys), os.path.abspath(dst_dir)))
    os.makedirs(dst_dir, exist_ok=True)
    write_json_atomic(
        _manifest_path(dst_dir),
        {
            "versions": [
                {
                    "v": 0,
                    "ts": time.time(),
                    "operation": f"clone_shallow:{os.path.abspath(src_dir)}@{version}",
                    "files": sorted(refs),
                }
            ],
            "relocations": {},
            "clone_of": os.path.abspath(src_dir),
        },
    )
    return 0
