"""Each extraction wave's commit record, and the checkpoint / lineage /
metrics tables exported from it (FIXTURES.md §4, SURVEY.md §7.6).

The reference's idempotency is two in-memory sets keyed by url-hash
(its ``service/api/main.py:21-48``, J5). At cluster scale the
durable record is the wave's output manifest, as in an Iceberg snapshot
commit: before the pointer swap the job writes into the staged manifest
the input snapshot id, the wave's bucket group (empty buckets included),
``n_buckets`` and per-bucket counters from ONE aggregation over the
staged rows (``commit_bucket_bookkeeping``). The swap commits data and
record together. Resume state is a fold over the published chain's
manifests (``completed_buckets_by_snapshot``); nothing reads the tables.

The three tables keep their paths and schemas as write-only exports of
the record, one parquet file per wave and table, named by the wave's
output snapshot id (``export_wave_tables``):

  * ``checkpoints`` — one row per bucket of the wave group per input
    snapshot (``docs_done=0`` for a bucket with no input rows);
  * ``lineage``    — per populated bucket doc, ok and failed counts, a
    failure-reason histogram (MAP<STRING,BIGINT>), the input snapshot
    id and files;
  * ``metrics``    — per populated bucket wall-time/bytes/doc counters and
    the per-doc extract-time spread, for skew monitoring.

A file is written whole or not at all, and "already exported?" is a
path check, so a crash between the swap and the export is repaired at
the next job start from the manifest alone, with no Spark job.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F

CHECKPOINT_SCHEMA = ("snapshot_id string, partition_id int, "
                     "url_hash_bucket int, docs_done bigint, "
                     "committed_at timestamp, out_snapshot_id string")
LINEAGE_SCHEMA = ("snapshot_id string, partition_id int, "
                  "input_files array<string>, doc_count bigint, "
                  "ok_count bigint, failed_count bigint, "
                  "failure_reasons map<string,bigint>")
METRICS_SCHEMA = ("run_id string, stage string, partition_id int, "
                  "docs bigint, bytes_in bigint, wall_ms bigint, "
                  "skew_salt int, oversized_count bigint, "
                  "max_doc_ms double, median_doc_ms double, "
                  "p99_doc_ms double")


def checkpoints_path(work_dir: str) -> str:
    return os.path.join(work_dir, "checkpoints")


def lineage_path(work_dir: str) -> str:
    return os.path.join(work_dir, "lineage")


def metrics_path(work_dir: str) -> str:
    return os.path.join(work_dir, "metrics")


_STAT_KEYS = ("bucket", "docs", "ok", "failed", "bytes_in", "wall_ms",
              "oversized", "max_doc_ms", "median_doc_ms", "p99_doc_ms",
              "failure_reasons")


def commit_bucket_bookkeeping(staged: DataFrame, *, input_sid: str,
                              input_files: list[str], run_id: str,
                              buckets: list[int], n_buckets: int,
                              big_threshold: int, skew_salt: int) -> dict:
    """The wave's commit record, for the job to write into the staged
    manifest before the pointer swap. ONE groupBy("bucket") over the
    staged rows collects at most ``n_buckets`` rows; ``bucket_stats``
    holds them column-wise (populated buckets only), ``buckets`` the
    whole wave group."""
    reasons = F.collect_list(F.substring_index("error", ":", 1))
    rows = staged.groupBy("bucket").agg(
        F.count("*").alias("docs"),
        (F.count("*") - F.count("error")).alias("ok"),
        F.count("error").alias("failed"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("extract_ms").cast("long").alias("wall_ms"),
        F.count(F.when(F.col("bytes_in") > big_threshold, 1))
         .alias("oversized"),
        # straggler/skew observability (SURVEY §5.2.7): per-doc
        # extract-time spread inside the bucket. percentile_approx is a
        # distributed sketch (no per-bucket collect), so this survives
        # 100 TB; hot buckets (max >> median) show without a re-run.
        F.round(F.max("extract_ms"), 3).alias("max_doc_ms"),
        F.round(F.percentile_approx("extract_ms", 0.5), 3)
         .alias("median_doc_ms"),
        F.round(F.percentile_approx("extract_ms", 0.99), 3)
         .alias("p99_doc_ms"),
        # exact failure-reason histogram, built executor-side so only
        # the map reaches the driver
        F.map_from_entries(F.transform(
            F.array_distinct(reasons),
            lambda r: F.struct(r, F.size(F.filter(reasons,
                                                  lambda x: x == r))
                               .cast("long")))).alias("failure_reasons"),
    ).collect()
    rows.sort(key=lambda r: r.bucket)
    stats = {k: [r[k] for r in rows] for k in _STAT_KEYS}
    stats["failure_reasons"] = [dict(sorted(h.items()))
                                for h in stats["failure_reasons"]]
    return {"input_snapshot": input_sid, "input_files": input_files,
            "run_id": run_id, "skew_salt": skew_salt,
            "n_buckets": n_buckets, "buckets": sorted(buckets),
            "committed_at": time.time(), "bucket_stats": stats}


def completed_buckets_by_snapshot(manifests: list[dict]
                                  ) -> dict[str, set[int]]:
    """Resume state: committed buckets per input snapshot, folded from the
    published output chain's manifests (``shim.chain_manifests``). A wave
    contributes its bucket group, a compaction the folded state of the
    waves it absorbed. Output written in an older layout is refused:
    ``bucket=N`` directories (``partition_by == ["bucket"]``) do not
    read back as the flat snapshots later commits add."""
    done: dict[str, set[int]] = {}
    for m in manifests:
        if m.get("partition_by"):
            raise ValueError(
                f"output snapshot {m['snapshot_id']} is partitioned by "
                f"{m['partition_by']} (bucket directories, written by an "
                "older version); re-extract into a fresh work dir")
        if "input_snapshot" in m:
            folded = {m["input_snapshot"]: m["buckets"]}
        elif "completed" in m:
            folded = m["completed"]
        else:
            raise ValueError(
                f"output snapshot {m['snapshot_id']} carries no commit "
                "record (written by an older version); re-extract into a "
                "fresh work dir")
        for sid, buckets in folded.items():
            done.setdefault(sid, set()).update(buckets)
    return done


# Spark DDL type → the arrow type write_parquet_file writes it as
_ARROW_TYPES = {
    "string": pa.string(), "int": pa.int32(), "bigint": pa.int64(),
    "double": pa.float64(), "timestamp": pa.timestamp("us", tz="UTC"),
    "array<string>": pa.list_(pa.string()),
    "map<string,bigint>": pa.map_(pa.string(), pa.int64()),
}


def _arrow_schema(ddl: str) -> pa.Schema:
    return pa.schema([(name, _ARROW_TYPES[kind]) for name, kind in
                      (field.split(" ") for field in ddl.split(", "))])


def _checkpoint_rows(m: dict) -> dict:
    buckets = m["buckets"]
    ok = dict(zip(m["bucket_stats"]["bucket"], m["bucket_stats"]["ok"]))
    n = len(buckets)
    return {"snapshot_id": [m["input_snapshot"]] * n,
            "partition_id": buckets, "url_hash_bucket": buckets,
            "docs_done": [ok.get(b, 0) for b in buckets],
            "committed_at": [int(m["committed_at"] * 1e6)] * n,
            "out_snapshot_id": [m["snapshot_id"]] * n}


def _lineage_rows(m: dict) -> dict:
    s = m["bucket_stats"]
    n = len(s["bucket"])
    return {"snapshot_id": [m["input_snapshot"]] * n,
            "partition_id": s["bucket"],
            "input_files": [m["input_files"]] * n,
            "doc_count": s["docs"], "ok_count": s["ok"],
            "failed_count": s["failed"],
            "failure_reasons": [list(h.items())
                                for h in s["failure_reasons"]]}


def _metrics_rows(m: dict) -> dict:
    s = m["bucket_stats"]
    n = len(s["bucket"])
    return {"run_id": [m["run_id"]] * n, "stage": ["extract"] * n,
            "partition_id": s["bucket"], "docs": s["docs"],
            "bytes_in": s["bytes_in"], "wall_ms": s["wall_ms"],
            "skew_salt": [m["skew_salt"]] * n,
            "oversized_count": s["oversized"],
            **{k: s[k] for k in ("max_doc_ms", "median_doc_ms",
                                 "p99_doc_ms")}}


def export_wave_tables(work_dir: str, manifest: dict) -> int:
    """Write a committed wave's rows into each table that lacks its file
    ``<table>/<out snapshot id>.parquet``, driver-side from the manifest
    (no Spark job, no data scan). Returns the number of files written:
    0 once the wave is fully exported."""
    written = 0
    for table_path, ddl, rows in (
            (checkpoints_path, CHECKPOINT_SCHEMA, _checkpoint_rows),
            (lineage_path, LINEAGE_SCHEMA, _lineage_rows),
            (metrics_path, METRICS_SCHEMA, _metrics_rows)):
        target = os.path.join(table_path(work_dir),
                              f"{manifest['snapshot_id']}.parquet")
        if os.path.exists(target):
            continue
        write_parquet_file(target, ddl, rows(manifest))
        written += 1
    return written


def write_parquet_file(target: str, ddl: str, rows: dict) -> None:
    """Write ``rows`` (column name → values) to the parquet file
    ``target`` with the Spark schema ``ddl``, driver-side (no Spark job),
    whole or not at all: the file is staged under a dot-prefixed name,
    which Spark's file listing skips, then renamed into place."""
    root = os.path.dirname(target)
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, f".{uuid.uuid4().hex[:8]}.tmp")
    pq.write_table(pa.Table.from_pydict(rows, schema=_arrow_schema(ddl)),
                   tmp)
    os.replace(tmp, target)
