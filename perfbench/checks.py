"""Output checks. Each returns (failed_docs, problems): ``failed_docs`` counts
documents against the attempted total and ``problems`` lists every check
that did not hold. A run is correct only when both are empty/zero."""

from __future__ import annotations

import hashlib
import os
import random
from collections import Counter

from pyspark.sql import functions as F

from ocr_spark.core.extract import extract_document
from ocr_spark.job import curation_root, read_extracted
from ocr_spark.operators.bookkeeping import (
    CHECKPOINT_SCHEMA, checkpoints_path, lineage_path,
)
from ocr_spark.operators.extraction import (
    DEFAULT_BIG_THRESHOLD, DEFAULT_BUCKETS,
)
from ocr_spark.sources import iceberg_shim as shim

TEXT_SAMPLE = 24  # urls per run whose text is compared with the local kernel


def check_extraction(spark, input_root: str, work_dir: str,
                     inputs: list[dict], seed: int) -> tuple[int, list[str]]:
    """``inputs``: every (url, html) row committed to ``input_root``.

    * the output url set equals the input url set, each url exactly once,
      and no output row carries an ``error``;
    * a seeded sample of urls, plus every row past the oversized-row
      threshold, has ``text`` byte-identical to ``extract_document`` run in
      this process;
    * lineage ``doc_count`` sums to the number of input rows;
    * checkpoints cover every bucket of every input snapshot."""
    problems: list[str] = []
    sample = random.Random(seed).sample(inputs, min(TEXT_SAMPLE, len(inputs)))
    sample += [r for r in inputs if len(r["html"]) > DEFAULT_BIG_THRESHOLD
               and r not in sample]
    sampled = F.col("url").isin([r["url"] for r in sample])
    rows = (read_extracted(spark, work_dir)
            .select("url", F.col("error").isNotNull().alias("err"),
                    F.when(sampled, F.col("text")).alias("text"))
            .collect())
    seen = Counter(r.url for r in rows)
    expected = {r["url"] for r in inputs}
    missing = len(expected - seen.keys())
    extra = len(seen.keys() - expected)
    dups = sum(c - 1 for c in seen.values() if c > 1)
    errors = sum(r.err for r in rows)
    for label, n in (("missing", missing), ("unexpected", extra),
                     ("duplicated", dups), ("error", errors)):
        if n:
            problems.append(f"{n} {label} url(s) in the extraction output")

    got = {r.url: r.text for r in rows if r.text is not None}
    mismatched = [r["url"] for r in sample
                  if got.get(r["url"]) != extract_document(r["url"],
                                                           r["html"]).text]
    if mismatched:
        problems.append(f"text differs from extract_document for "
                        f"{len(mismatched)} sampled url(s), "
                        f"e.g. {mismatched[0]}")

    lineage_docs = (spark.read.parquet(lineage_path(work_dir))
                    .agg(F.sum("doc_count")).collect()[0][0]) or 0
    if lineage_docs != len(inputs):
        problems.append(f"lineage doc_count sums to {lineage_docs}, "
                        f"expected {len(inputs)}")

    done: dict[str, set] = {}
    for r in (spark.read.schema(CHECKPOINT_SCHEMA)
              .parquet(checkpoints_path(work_dir))
              .select("snapshot_id", "url_hash_bucket").distinct().collect()):
        done.setdefault(r.snapshot_id, set()).add(r.url_hash_bucket)
    for sid in shim.history(input_root):
        lost = DEFAULT_BUCKETS - len(done.get(sid, set()))
        if lost:
            problems.append(f"input snapshot {sid}: {lost} bucket(s) "
                            "without a checkpoint")
    return missing + extra + dups + errors + len(mismatched), problems


def kept_digest(spark, work_dir: str, snapshot: str) -> str:
    """sha256 over the sorted urls a curated snapshot keeps."""
    urls = sorted(r.url for r in shim.read_snapshot(
        spark, curation_root(work_dir), snapshot)
        .filter("keep").select("url").collect())
    return hashlib.sha256("\n".join(urls).encode()).hexdigest()


def check_curation(summary: dict, expected_docs: int, digest: str,
                   digest_file: str) -> tuple[int, list[str]]:
    """kept + dropped == docs == the extraction output's documents, and the
    kept-set digest equals the one recorded by the first run with this
    seed (``digest_file``; written when absent)."""
    problems: list[str] = []
    dropped = (summary["dropped_quality"] + summary["dropped_repetition"]
               + summary["dropped_line_format"])
    if summary["docs_kept"] + dropped != summary["docs"]:
        problems.append(f"kept {summary['docs_kept']} + dropped {dropped} "
                        f"!= docs {summary['docs']}")
    if summary["docs"] != expected_docs:
        problems.append(f"curation saw {summary['docs']} docs, "
                        f"expected {expected_docs}")
    if os.path.exists(digest_file):
        with open(digest_file, encoding="utf-8") as fh:
            recorded = fh.read().strip()
        if recorded != digest:
            problems.append(f"kept-set digest {digest[:12]} differs from "
                            f"{recorded[:12]} recorded for this seed")
    else:
        with open(digest_file, "w", encoding="utf-8") as fh:
            fh.write(digest)
    failed = abs(summary["docs"] - expected_docs)
    return failed, problems
