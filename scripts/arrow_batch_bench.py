#!/usr/bin/env python
"""Arrow batch-size sweep at full box saturation (local[32]).

The remaining saturation gap (Spark/kernel ~0.41-0.50 at local[32],
BENCH/scaling.json) is attributed to Arrow-IN + per-batch worker
overhead after the offsets-out and JVM-pre-scan levers were measured
dead (BENCH/offsets.json, BENCH/prescan.json). This sweep measures the
last named knob: ``spark.sql.execution.arrow.maxRecordsPerBatch`` —
small batches pay per-batch overhead more often, huge batches inflate
peak memory and delay pipelining. Interleaved cycles (every batch size
measured once per cycle, efficiency compared WITHIN a cycle) cancel
this host's minute-scale drift; the warm-up rep is discarded.

Writes BENCH/arrow_batch.json. Usage:
    python scripts/arrow_batch_bench.py [n_docs] [cycles]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, __file__.rsplit("/scripts/", 1)[0])

from ocr_spark.session import ARROW_BATCH_ROWS as DEFAULT  # noqa: E402

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 60000
CYCLES = int(sys.argv[2]) if len(sys.argv) > 2 else 3
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BATCH_SIZES = tuple(
    int(x) for x in os.environ.get(
        "ARROW_SWEEP_SIZES", "32,128,512,2048,8192").split(","))


def main() -> int:
    os.environ.setdefault("SCALING_BENCH_DOCS", str(N_DOCS))
    from scripts.scaling_bench import CORPUS_DIR, build_corpus

    from ocr_spark.operators.extraction import run_extraction
    from ocr_spark.session import get_spark

    build_corpus()
    spark = get_spark("arrow_batch_bench", master=f"local[{CPUS}]")
    df = spark.read.parquet(CORPUS_DIR)

    def run(batch_rows: int) -> float:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       str(batch_rows))
        t0 = time.perf_counter()
        run_extraction(df, partitions=CPUS * 4, big_partitions=2) \
            .write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    run(DEFAULT)  # discarded warm-up (JVM + Python workers)
    per_batch: dict[int, list[float]] = {b: [] for b in BATCH_SIZES}
    for c in range(CYCLES):
        # alternate direction each cycle: a monotone host-speed trend
        # WITHIN a cycle would otherwise systematically favor whichever
        # end of the size list runs later
        order = BATCH_SIZES if c % 2 == 0 else tuple(reversed(BATCH_SIZES))
        for b in order:
            sec = run(b)
            per_batch[b].append(round(N_DOCS / sec, 1))
        print(f"cycle {c}: " + " ".join(
            f"{b}:{per_batch[b][-1]}" for b in BATCH_SIZES),
            file=sys.stderr)

    med = lambda xs: sorted(xs)[len(xs) // 2]
    medians = {b: med(v) for b, v in per_batch.items()}
    # per-cycle ratio vs the default, then median — drift-cancelling
    ratios = {
        b: round(med([per_batch[b][c] / per_batch[DEFAULT][c]
                      for c in range(CYCLES)]), 3)
        for b in BATCH_SIZES
    }
    best = max(medians, key=lambda b: ratios[b])
    out = {
        "n_docs": N_DOCS,
        "cpus": CPUS,
        "cycles": CYCLES,
        "docs_per_sec_cycles": {str(b): per_batch[b] for b in BATCH_SIZES},
        "docs_per_sec_median": {str(b): medians[b] for b in BATCH_SIZES},
        f"ratio_vs_default_{DEFAULT}_median_per_cycle": {
            str(b): ratios[b] for b in BATCH_SIZES},
        "best_batch": best,
        "best_ratio_vs_default": ratios[best],
    }
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH", "arrow_batch.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
