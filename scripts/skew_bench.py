#!/usr/bin/env python
"""Skew smoke at steady-state size (round-4 verdict #5): the two-level
salting claim — url-hash spread for the hot host plus a dedicated big
route for oversized rows — measured on the 240k-doc corpus where the
tail actually matters, not the 60k test fixture.

The corpus is hot-host skewed BY CONSTRUCTION: ~50% of all rows live on
one host out of 41 (~20x a uniform host share) and carries the
generator's oversized (~10 MB) rows. The claim under test (the
test_skew_metrics_and_partition_balance bound, never measured at this
size): with salting, the NORMAL route's per-partition wall time (sum of
per-doc extract_ms, partition-preserved through mapInArrow) keeps
max/median <= 4 and p99/median well under it, because url-hash
partitioning spreads the hot host uniformly and the big route removes
the rows that would stretch a normal partition's tail.

Also measured: the same ratios WITHOUT salting (bucket column only, no
repartition — partitioning is whatever the parquet file layout gives),
so the number the salt design buys is visible, not asserted.

Writes BENCH/skew_240k.json. Env: SKEW_BENCH_DOCS, SKEW_BENCH_PARTS.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_DOCS = int(os.environ.get("SKEW_BENCH_DOCS", "240000"))
PARTS = int(os.environ.get("SKEW_BENCH_PARTS", "256"))
BIG_PARTS = 8
BOUND = 4.0


def _walls(df, big_partitions: int) -> dict:
    """Per-partition wall (sum extract_ms) split normal vs big route."""
    from pyspark.sql import functions as F

    rows = (df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(F.sum("extract_ms").alias("wall"),
                 F.count("*").alias("docs"))
            .collect())
    normal = sorted(r.wall for r in rows
                    if r.pid >= big_partitions and r.wall and r.wall > 0)
    big = sorted(r.wall for r in rows
                 if r.pid < big_partitions and r.wall and r.wall > 0)
    med = statistics.median(normal)
    p99 = normal[min(len(normal) - 1, int(0.99 * len(normal)))]
    return {
        "n_partitions_normal": len(normal),
        "n_partitions_big": len(big),
        "normal_median_ms": round(med, 1),
        "normal_p99_ms": round(p99, 1),
        "normal_max_ms": round(normal[-1], 1),
        "p99_over_median": round(p99 / med, 3),
        "max_over_median": round(normal[-1] / med, 3),
        "big_route_max_ms": round(big[-1], 1) if big else None,
    }


def main() -> int:
    from pyspark.sql import functions as F

    from ocr_spark.operators.extraction import extract_pages, run_extraction
    from ocr_spark.session import get_spark

    corpus = os.path.join(REPO, ".bench_tmp", f"corpus_{N_DOCS}")
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        os.environ["SCALING_BENCH_DOCS"] = str(N_DOCS)
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        import scaling_bench
        scaling_bench.build_corpus()

    spark = get_spark("skew_bench", master="local[32]")
    pages = spark.read.parquet(corpus)
    hot = (pages.groupBy(F.regexp_extract("url", r"https://([^/]+)/", 1)
                         .alias("host"))
           .agg(F.count("*").alias("n")).orderBy(F.desc("n")).first())

    out: dict = {
        "n_docs": N_DOCS, "partitions": PARTS,
        "big_partitions": BIG_PARTS, "bound_max_over_median": BOUND,
        "hot_host": hot.host, "hot_host_rows": hot.n,
        "hot_host_share": round(hot.n / N_DOCS, 4),
    }

    t0 = time.perf_counter()
    salted = run_extraction(pages, partitions=PARTS,
                            big_partitions=BIG_PARTS)
    out["salted"] = _walls(salted, BIG_PARTS)
    out["salted"]["job_wall_sec"] = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    unsalted = extract_pages(pages)
    out["unsalted"] = _walls(unsalted, 0)
    out["unsalted"]["job_wall_sec"] = round(time.perf_counter() - t0, 1)

    out["bound_held"] = out["salted"]["max_over_median"] <= BOUND
    print(json.dumps(out, indent=2))
    with open(os.path.join(REPO, "BENCH", "skew_240k.json"), "w") as f:
        json.dump(out, f, indent=2)
    spark.stop()
    return 0 if out["bound_held"] else 1


if __name__ == "__main__":
    sys.exit(main())
