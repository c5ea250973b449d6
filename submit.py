#!/usr/bin/env python
"""spark-submit entry point for the extraction job.

Usage (north-rule launch shape — the pure-Python core ships as a zip):

    python scripts/make_pyfiles.py                  # → dist/ocr_spark.zip
    spark-submit --master local[32] \
        --py-files dist/ocr_spark.zip \
        --conf spark.sql.shuffle.partitions=64 \
        submit.py --input /tmp/pages_tbl --work-dir /tmp/ocr_work \
                  --partitions 128

On a real cluster only --master/--conf change: spark-submit's own
settings configure the session (they override get_spark's defaults),
and the job itself is partition-count/skew agnostic (explicit salting,
SURVEY.md §4.2.1). ``--driver-memory`` sizes the driver heap.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="ocr_spark extraction job")
    ap.add_argument("--input", required=True, help="input pages table root (iceberg-shim)")
    ap.add_argument("--work-dir", required=True, help="output/bookkeeping root")
    ap.add_argument("--partitions", type=int, default=128)
    ap.add_argument("--big-partitions", type=int, default=8)
    ap.add_argument("--big-threshold", type=int, default=2_000_000)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--waves", type=int, default=4)
    ap.add_argument("--respect-robots", action="store_true",
                    help="drop pages whose meta-robots directive "
                         "contains noindex before extraction")
    ap.add_argument("--compact", action="store_true",
                    help="after the job, compact the output history "
                         "into a single snapshot")
    ap.add_argument("--vacuum", action="store_true",
                    help="after compaction, delete the absorbed "
                         "snapshots' manifests and data dirs "
                         "(storage reclaim; implies --compact)")
    ap.add_argument("--curate", action="store_true",
                    help="after the job, run the corpus-wide curation "
                         "stage (paragraph dedup + quality/repetition "
                         "verdict + shard packing) over the committed "
                         "output")
    ap.add_argument("--curate-dedup", choices=("para", "span", "substr"),
                    default="para",
                    help="curation dedup granularity: repeated "
                         "paragraphs (default), C4's literal "
                         "three-sentence spans, or Lee-et-al. "
                         "exact-substring token windows")
    ap.add_argument("--curate-neardup", action="store_true",
                    help="prepend a document-level near-dup collapse "
                         "(MinHash-LSH + connected components, keep the "
                         "longest copy) to the curation stage")
    ap.add_argument("--curate-linefix", action="store_true",
                    help="apply RefinedWeb line-wise edit rules "
                         "(strip bullet/teaser/numeric lines, drop "
                         "over-corrected docs) before curation dedup")
    ap.add_argument("--sample", action="store_true",
                    help="after curation, run the mixture-sampling "
                         "stage (langid over kept text, temperature-"
                         "mixture copy counts, re-packed token-budget "
                         "shards with a digest manifest; implies "
                         "--curate)")
    ap.add_argument("--sft", action="store_true",
                    help="after curation, render the kept docs into "
                         "chat-template SFT examples with loss-mask "
                         "spans, shard them by url-hash bucket, and "
                         "commit with a per-shard digest manifest "
                         "over the rendered bytes (implies --curate)")
    ap.add_argument("--export", action="store_true",
                    help="after curation, export the kept shard-packed "
                         "docs partitioned by shard_id with a per-shard "
                         "content-digest manifest, then verify the "
                         "published data against the manifest "
                         "(implies --curate)")
    ap.add_argument("--stats", action="store_true",
                    help="after extraction, persist the mergeable "
                         "sketch frames (HLL/CMS/KMV) per extraction "
                         "snapshot as committed stats snapshots and "
                         "verify the folded store against a "
                         "from-scratch recompute")
    ap.add_argument("--eval-gold", default=None, metavar="PARQUET",
                    help="after extraction, score the committed output "
                         "against this gold eval set (parquet with url, "
                         "text) via the token-F1 kernel, appending "
                         "per-doc + summary metrics tables; fails the "
                         "run when any gold url went unextracted")
    ap.add_argument("--label", action="store_true",
                    help="after extraction, commit an active-learning "
                         "annotation batch (per-language smallest "
                         "classifier margins over ALL extracted docs) "
                         "under labeling/run=<id> with per-language "
                         "digests, then verify the committed batch "
                         "re-derives bit-identically")
    ap.add_argument("--validate", action="store_true",
                    help="after extraction, run the Deequ-style "
                         "constraint suite over the committed output "
                         "(one-scan conditional aggregates; report "
                         "committed under validation/) and fail the "
                         "run on any violation — the pre-promote gate "
                         "between extract and curate/export")
    ap.add_argument("--master", default=None,
                    help="override master when not launched via spark-submit")
    args = ap.parse_args(argv)

    from ocr_spark.job import compact_snapshots, run_extraction_job
    from ocr_spark.session import get_spark

    spark = get_spark("ocr_spark.extract", master=args.master)
    try:
        summary = run_extraction_job(
            spark, args.input, args.work_dir,
            partitions=args.partitions, big_partitions=args.big_partitions,
            big_threshold=args.big_threshold, n_buckets=args.buckets,
            waves=args.waves, respect_robots=args.respect_robots,
        )
        if args.compact or args.vacuum:
            summary["compaction"] = compact_snapshots(spark, args.work_dir)
        if args.vacuum:
            from ocr_spark.job import output_root
            from ocr_spark.sources import iceberg_shim as shim
            summary["vacuum"] = shim.vacuum_absorbed(
                output_root(args.work_dir))
        if args.validate:
            from ocr_spark.job import run_validation_job
            summary["validation"] = run_validation_job(
                spark, args.work_dir)
            if not summary["validation"]["passed"]:
                print("extraction validation FAILED: "
                      f"{summary['validation']['failed']}",
                      file=sys.stderr)
                return 1
        if args.curate or args.export or args.sample or args.sft:
            from ocr_spark.job import run_curation_job
            summary["curation"] = run_curation_job(
                spark, args.work_dir, dedup=args.curate_dedup,
                neardup=args.curate_neardup,
                line_corrections=args.curate_linefix)
        if args.sample:
            from ocr_spark.job import run_sampling_job
            summary["sampling"] = run_sampling_job(spark, args.work_dir)
        if args.sft:
            from ocr_spark.job import run_sft_job
            summary["sft"] = run_sft_job(spark, args.work_dir)
        if args.stats:
            from ocr_spark.job import run_stats_job, verify_stats
            summary["stats"] = run_stats_job(spark, args.work_dir)
            check = verify_stats(spark, args.work_dir)
            summary["stats"]["verified"] = not any(check.values())
            if any(check.values()):
                print(f"sketch-store verification FAILED: {check}",
                      file=sys.stderr)
                return 1
        if args.label:
            from ocr_spark.job import run_labeling_job, verify_labeling
            summary["labeling"] = run_labeling_job(spark, args.work_dir)
            check = verify_labeling(spark, args.work_dir,
                                    summary["labeling"]["run_id"])
            summary["labeling"]["verified"] = check["ok"]
            if not check["ok"]:
                print(f"labeling batch verification FAILED: "
                      f"{check['mismatches']}", file=sys.stderr)
                return 1
        if args.eval_gold:
            from ocr_spark.job import run_eval_job
            gold = spark.read.parquet(args.eval_gold)
            summary["eval"] = run_eval_job(spark, args.work_dir, gold)
            if summary["eval"]["n_unextracted"]:
                print("extraction eval FAILED: "
                      f"{summary['eval']['n_unextracted']} gold urls "
                      "unextracted", file=sys.stderr)
                return 1
        if args.export:
            from ocr_spark.job import run_export_job
            summary["export"] = run_export_job(spark, args.work_dir)
        if args.export or args.sample or args.sft:
            # one consumer-side integrity call over every shard stage
            # that ran (export, sampled corpus, and/or SFT examples)
            from ocr_spark.job import verify_all
            check = verify_all(spark, args.work_dir)
            if args.export:
                summary["export"]["verified"] = \
                    not check["stages"]["export"].get("mismatches")
            if args.sample:
                summary["sampling"]["verified"] = \
                    not check["stages"]["sampling"].get("mismatches")
            if args.sft:
                summary["sft"]["verified"] = \
                    not check["stages"]["sft"].get("mismatches")
            if not check["ok"]:
                bad = {n: s["mismatches"]
                       for n, s in check["stages"].items()
                       if s.get("mismatches")}
                print(f"shard verification FAILED: {bad}",
                      file=sys.stderr)
                return 1
        print(json.dumps(summary))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
