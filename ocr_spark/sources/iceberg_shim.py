"""Iceberg-semantics shim over partitioned Parquet.

No Iceberg jars ship in this sandbox's $SPARK_HOME, so the three Iceberg
behaviors the north rule actually exercises are provided by a thin,
swappable layer (SURVEY.md §7.0):

  1. **snapshot-id lineage** — every commit writes an immutable manifest
     ``_snapshots/snap-<id>.json`` listing its data directory, row count,
     and parent snapshot;
  2. **atomic pointer swap** — ``_snapshots/CURRENT`` is replaced with
     ``os.replace`` (atomic on POSIX), so readers see either the old or the
     new snapshot, never a torn state;
  3. **incremental processing** — ``chain_manifests`` returns the visible
     history's manifests (each holding its own ``data_dir``) in one walk;
     a reader folds them, as the extraction job folds its output chain
     into the (snapshot, bucket) units still to do
     (Trigger.AvailableNow-style batch increments, SURVEY.md §2.10).

The interface is deliberately narrow (`prepare_snapshot`,
`publish_snapshot`, `write_snapshot`, `read_snapshot`, `read_current`,
`chain_manifests`) so a real Iceberg catalog drops in by swapping this
module (``spark.read.format("iceberg")...``).

On a real cluster this module's filesystem calls would target the shared
object store (s3a/abfss path via the Hadoop FS API); locally plain ``os``
suffices and keeps the shim dependency-free.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

_SNAP_DIR = "_snapshots"
_CURRENT = "CURRENT"


def _snap_path(table_root: str, snapshot_id: str) -> str:
    return os.path.join(table_root, _SNAP_DIR, f"snap-{snapshot_id}.json")


def current_snapshot_id(table_root: str) -> str | None:
    ptr = os.path.join(table_root, _SNAP_DIR, _CURRENT)
    if not os.path.exists(ptr):
        return None
    with open(ptr, encoding="utf-8") as fh:
        return fh.read().strip() or None


def read_manifest(table_root: str, snapshot_id: str) -> dict:
    with open(_snap_path(table_root, snapshot_id), encoding="utf-8") as fh:
        return json.load(fh)


def _write_manifest(table_root: str, manifest: dict) -> None:
    """Write ``manifest`` whole or not at all (temp file + os.replace)."""
    os.makedirs(os.path.join(table_root, _SNAP_DIR), exist_ok=True)
    tmp = os.path.join(table_root, _SNAP_DIR,
                       f".snap.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, _snap_path(table_root, manifest["snapshot_id"]))


def amend_manifest(table_root: str, snapshot_id: str, extra: dict) -> dict:
    """Merge ``extra`` into a STAGED snapshot's manifest and return it.
    Only for snapshots not yet published: a published manifest is
    immutable. The job uses this to write a wave's commit record, which
    needs the staged rows, before the pointer swap."""
    manifest = {**read_manifest(table_root, snapshot_id), **extra}
    _write_manifest(table_root, manifest)
    return manifest


def prepare_snapshot(df: DataFrame, table_root: str,
                     partition_by: list[str] | None = None,
                     snapshot_id: str | None = None,
                     parent_id: str | None = "auto",
                     extra: dict | None = None) -> str:
    """Stage a new immutable snapshot WITHOUT publishing it: data lands
    under ``data/snap-<id>/`` and the manifest is written, but CURRENT is
    not touched — the snapshot is invisible to ``history``/``read_current``
    until ``publish_snapshot``. This is the Iceberg commit shape: the
    metadata pointer swap is the commit point, everything before it is
    crash-discardable staging.

    ``parent_id='auto'`` (default) chains onto the current snapshot;
    ``parent_id=None`` starts a fresh chain (used by compaction, whose
    data REPLACES the whole history rather than appending to it).
    ``extra`` is merged into the manifest (e.g. ``compacted_from``)."""
    snapshot_id = snapshot_id or uuid.uuid4().hex[:16]
    data_dir = os.path.join(table_root, "data", f"snap-{snapshot_id}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_dir)

    row_count = None  # avoid re-scan; callers that need it count the read-back
    parent = current_snapshot_id(table_root) if parent_id == "auto" \
        else parent_id
    _write_manifest(table_root, {
        "snapshot_id": snapshot_id,
        "parent_id": parent,
        "created_at": time.time(),
        "data_dir": data_dir,
        "partition_by": partition_by or [],
        "row_count": row_count,
        **(extra or {}),
    })
    return snapshot_id


def publish_snapshot(table_root: str, snapshot_id: str) -> None:
    """The commit point: atomically swap CURRENT to a staged
    ``snapshot_id``, whose manifest already holds its parent link and
    any commit record. Before the swap the snapshot is invisible and
    crash-discardable; after it, committed."""
    if not os.path.exists(_snap_path(table_root, snapshot_id)):
        raise FileNotFoundError(
            f"cannot publish unknown snapshot {snapshot_id} at {table_root}")
    tmp = os.path.join(table_root, _SNAP_DIR,
                       f".{_CURRENT}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(snapshot_id)
    os.replace(tmp, os.path.join(table_root, _SNAP_DIR, _CURRENT))  # atomic


def write_snapshot(df: DataFrame, table_root: str,
                   partition_by: list[str] | None = None,
                   snapshot_id: str | None = None) -> str:
    """Write ``df`` as a new immutable snapshot and atomically commit it
    (prepare + publish in one call)."""
    sid = prepare_snapshot(df, table_root, partition_by, snapshot_id)
    publish_snapshot(table_root, sid)
    return sid


def read_snapshot(spark: SparkSession, table_root: str,
                  snapshot_id: str, schema=None) -> DataFrame:
    manifest = read_manifest(table_root, snapshot_id)
    reader = spark.read
    if schema is not None:
        # explicit schema also makes empty snapshots readable
        reader = reader.schema(schema)
    return reader.parquet(manifest["data_dir"])


def read_current(spark: SparkSession, table_root: str) -> DataFrame:
    sid = current_snapshot_id(table_root)
    if sid is None:
        raise FileNotFoundError(f"no CURRENT snapshot under {table_root}")
    return read_snapshot(spark, table_root, sid)


def chain_manifests(table_root: str) -> list[dict]:
    """Manifests of the visible history, oldest → newest, each read
    once by following parent links (empty when nothing is published)."""
    sid = current_snapshot_id(table_root)
    chain = []
    while sid is not None:
        chain.append(read_manifest(table_root, sid))
        sid = chain[-1].get("parent_id")
    return list(reversed(chain))


def history(table_root: str) -> list[str]:
    """Snapshot ids, oldest → newest, by following parent links."""
    return [m["snapshot_id"] for m in chain_manifests(table_root)]


def vacuum_absorbed(table_root: str, dry_run: bool = False) -> dict:
    """Reclaim storage after compaction — the expire-snapshots /
    delete-orphan-files maintenance pair, restricted to what is
    PROVABLY reclaimable: snapshots listed in a published chain
    manifest's ``compacted_from`` (their rows are fully contained in
    the compacted snapshot) whose own manifests have left the chain.

    Never touches staged-but-unpublished snapshots. Those are garbage
    once their writer is gone (the pointer swap is the only commit
    point, so nothing will ever publish or read them), but a running
    job may be between its stage and its swap. Vacuumed ids stay
    accounted for: the compaction manifest keeps ``compacted_from`` and
    the folded resume state of every wave it absorbed (``completed``).

    Returns {"vacuumed": [ids], "dirs_deleted": n, "bytes_freed": n}
    (``dry_run`` computes without deleting)."""
    import shutil

    manifests = chain_manifests(table_root)
    chain = {m["snapshot_id"] for m in manifests}
    absorbed = [s for m in manifests for s in m.get("compacted_from") or []]
    victims = [s for s in absorbed if s not in chain
               and os.path.exists(_snap_path(table_root, s))]
    bytes_freed = 0
    dirs_deleted = 0
    for sid in victims:
        m = read_manifest(table_root, sid)
        data_dir = m.get("data_dir")
        if data_dir and os.path.isdir(data_dir):
            bytes_freed += sum(
                os.path.getsize(os.path.join(dp, fn))
                for dp, _dn, fns in os.walk(data_dir) for fn in fns)
            if not dry_run:
                shutil.rmtree(data_dir)
            dirs_deleted += 1
        if not dry_run:
            os.remove(_snap_path(table_root, sid))
    return {"vacuumed": sorted(victims), "dirs_deleted": dirs_deleted,
            "bytes_freed": bytes_freed}
