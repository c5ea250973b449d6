#!/usr/bin/env python
"""Commit cost against output-chain length.

For each output chain length L (default 4, 40, 400) the script builds a
work dir whose output chain holds L synthetic wave manifests, each with
its exported checkpoint / lineage / metrics files but no data. Every 4
waves fully commit one synthetic input snapshot (64 buckets, 16 per
wave). One real snapshot of 500 generated pages is appended to the input
table, and the script times:

  * ``job_start_s`` — the job-start resume state (``job._resume_state``:
    one chain walk, the export repair check, the fold), and the number of
    manifests it reads;
  * ``wave_s`` — ``run_extraction_job(waves=1)`` over the 500 pages:
    the whole one-wave incremental commit, job start included.

Each figure is the median of ``--reps`` repetitions, the lengths
interleaved within each; every wave run starts from a fresh copy of the
L-wave work dir. Results go to ``--out`` (default
BENCH/chain_commit.json) with host, date and seed.

    python scripts/chain_commit_bench.py --seed 1 --reps 5
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_BUCKETS = 64
WAVES_PER_INPUT = 4
PAGES = 500


def synthetic_wave_chain(work_dir: str, n_waves: int) -> list[str]:
    """Publish ``n_waves`` wave manifests under ``work_dir``'s output
    table (manifests only, no data). Wave i commits bucket quarter
    ``i % 4`` of input snapshot ``in-{i // 4}``, with a realistic
    per-bucket record and its exported table files.
    Returns the input snapshot ids, oldest first."""
    from ocr_spark.job import output_root
    from ocr_spark.operators.bookkeeping import export_wave_tables
    from ocr_spark.sources import iceberg_shim as shim

    root = output_root(work_dir)
    size = N_BUCKETS // WAVES_PER_INPUT
    for i in range(n_waves):
        buckets = list(range(i % WAVES_PER_INPUT * size,
                             (i % WAVES_PER_INPUT + 1) * size))
        docs = [8 + b % 5 for b in buckets]
        manifest = {
            "snapshot_id": f"wave-{i:05d}",
            "parent_id": shim.current_snapshot_id(root),
            "created_at": float(i), "data_dir": "", "partition_by": [],
            "row_count": None,
            "input_snapshot": f"in-{i // WAVES_PER_INPUT}",
            "input_files": [f"in-{i // WAVES_PER_INPUT}/data"],
            "run_id": f"run-{i // WAVES_PER_INPUT}", "skew_salt": 1,
            "n_buckets": N_BUCKETS, "buckets": buckets,
            "committed_at": float(i),
            "bucket_stats": {
                "bucket": buckets, "docs": docs, "ok": docs,
                "failed": [0] * size, "bytes_in": [d * 3000 for d in docs],
                "wall_ms": [d * 2 for d in docs], "oversized": [0] * size,
                "max_doc_ms": [3.5] * size, "median_doc_ms": [1.5] * size,
                "p99_doc_ms": [3.4] * size,
                "failure_reasons": [{}] * size},
        }
        shim._write_manifest(root, manifest)
        shim.publish_snapshot(root, manifest["snapshot_id"])
        export_wave_tables(work_dir, manifest)
    return [f"in-{k}" for k in range(-(-n_waves // WAVES_PER_INPUT))]


def _input_table(spark, root: str, input_sids: list[str], seed: int) -> None:
    """Synthetic (data-less) input snapshots, then one real snapshot of
    PAGES generated pages on top."""
    from ocr_spark.gen.corpus import generate_pages
    from ocr_spark.sources import iceberg_shim as shim

    for sid in input_sids:
        shim._write_manifest(root, {
            "snapshot_id": sid, "parent_id": shim.current_snapshot_id(root),
            "created_at": 0.0, "data_dir": "", "partition_by": [],
            "row_count": None})
        shim.publish_snapshot(root, sid)
    rows = generate_pages(PAGES, seed=seed, oversized_rows=0)
    shim.write_snapshot(spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
         for r in rows],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string"), root, snapshot_id="real")


def job_start(template: str, length: int) -> tuple[float, int]:
    """(seconds, manifests read) of one job-start resume-state pass."""
    from ocr_spark import job
    from ocr_spark.sources import iceberg_shim as shim

    reads = [0]
    read_manifest = shim.read_manifest

    def counting(*a, **k):
        reads[0] += 1
        return read_manifest(*a, **k)

    shim.read_manifest = counting
    try:
        t0 = time.perf_counter()
        done, repaired = job._resume_state(template, N_BUCKETS)
        elapsed = time.perf_counter() - t0
    finally:
        shim.read_manifest = read_manifest
    assert repaired == 0 and len(done) == length // WAVES_PER_INPUT
    return elapsed, reads[0]


def one_wave(spark, template: str, input_root: str, work: str) -> float:
    """Seconds of one incremental commit on a fresh copy of ``template``."""
    from ocr_spark import job

    shutil.copytree(template, work)
    t0 = time.perf_counter()
    s = job.run_extraction_job(
        spark, input_root, work, partitions=4, big_partitions=1, waves=1)
    elapsed = time.perf_counter() - t0
    assert s["docs"] == PAGES, s
    shutil.rmtree(work)
    return elapsed


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--lengths", default="4,40,400")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--out", default=os.path.join(ROOT, "BENCH",
                                                  "chain_commit.json"))
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    from ocr_spark.session import get_spark
    spark = get_spark("chain_commit_bench", master=args.master,
                      shuffle_partitions=16)
    lengths = [int(n) for n in args.lengths.split(",")]
    scratch = tempfile.mkdtemp(prefix="chain_commit_")
    starts = {n: [] for n in lengths}
    walls = {n: [] for n in lengths}
    reads = {}
    try:
        dirs = {}
        for n in lengths:
            dirs[n] = (os.path.join(scratch, f"chain-{n}"),
                       os.path.join(scratch, f"input-{n}"))
            _input_table(spark, dirs[n][1],
                         synthetic_wave_chain(dirs[n][0], n), args.seed)
        # warm the JVM and the kernel, then run every length in each
        # repetition, rotating the order so warm-up favours none of them
        one_wave(spark, *dirs[lengths[0]], os.path.join(scratch, "warm"))
        for r in range(args.reps):
            k = r % len(lengths)
            for n in lengths[k:] + lengths[:k]:
                secs, reads[n] = job_start(dirs[n][0], n)
                starts[n].append(secs)
                walls[n].append(one_wave(spark, *dirs[n], os.path.join(
                    scratch, f"run-{n}-{r}")))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()
    results = [{"chain_len": n,
                "job_start_s": statistics.median(starts[n]),
                "manifests_read": reads[n],
                "wave_s": statistics.median(walls[n]),
                "wave_s_runs": [round(w, 3) for w in walls[n]]}
               for n in lengths]
    record = {
        "what": "one-wave incremental commit of 500 pages on top of an "
                "output chain of L synthetic wave manifests (with their "
                "table exports); job_start_s = resume-state walk + repair "
                "check + fold, wave_s = whole incremental job",
        "host": {"node": platform.node(), "cpus": os.cpu_count(),
                 "python": platform.python_version()},
        "date": datetime.date.today().isoformat(),
        "seed": args.seed, "master": args.master, "reps": args.reps,
        "results": results,
    }
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(record, indent=1))


if __name__ == "__main__":
    main()
