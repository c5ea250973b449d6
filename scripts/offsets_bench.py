#!/usr/bin/env python
"""Before/after evidence for OCR_SPARK_BLOCKS_MODE=offsets (ROADMAP #1 /
round-1 verdict #2): measure the local[32] extraction throughput with
full block dicts vs offsets-only blocks, interleaved per cycle so host
drift cancels in the ratio, plus the raw-mp kernel ceiling per cycle so
the Spark/mp ratio move is visible. Batches run at the session's
shipped Arrow caps; the recorded BENCH/offsets.json ran at 512 rows.

Usage: python scripts/offsets_bench.py   # → BENCH/offsets.json
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.scaling_bench import (  # noqa: E402
    CORPUS_DIR, _mp_init, _mp_work, build_corpus,
)

LEVEL = 32
CYCLES = int(os.environ.get("OFFSETS_BENCH_CYCLES", "3"))


def _spark_run(mode: str) -> float:
    env = {**os.environ, "SCALING_BENCH_REPEATS": "1",
           "OCR_SPARK_BLOCKS_MODE": mode}
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "scaling_bench.py"),
         "--measure", str(LEVEL), CORPUS_DIR],
        capture_output=True, text=True, cwd=REPO, check=True, env=env)
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)["docs_per_sec"]


def _mp_run() -> float:
    import pyarrow.parquet as pq
    tbl = pq.read_table(CORPUS_DIR, columns=["url", "html"])
    urls = tbl.column("url").to_pylist()
    htmls = tbl.column("html").to_pylist()
    n = len(urls)
    k = LEVEL * 4
    step = (n + k - 1) // k
    chunks = [(urls[i:i + step], htmls[i:i + step])
              for i in range(0, n, step)]
    with mp.Pool(LEVEL, initializer=_mp_init) as pool:
        pool.map(_mp_work, chunks[:1])
        t0 = time.perf_counter()
        total = sum(pool.map(_mp_work, chunks))
        dt = time.perf_counter() - t0
    return round(total / dt, 1)


def main() -> int:
    build_corpus()
    cycles = []
    for c in range(CYCLES):
        cyc = {"full": _spark_run("full"),
               "offsets": _spark_run("offsets"),
               "mp": _mp_run()}
        cyc["offsets_over_full"] = round(cyc["offsets"] / cyc["full"], 3)
        cyc["full_over_mp"] = round(cyc["full"] / cyc["mp"], 3)
        cyc["offsets_over_mp"] = round(cyc["offsets"] / cyc["mp"], 3)
        cycles.append(cyc)
        print(f"cycle {c}: {cyc}")

    def med(key):
        return round(statistics.median(c[key] for c in cycles), 3)

    summary = {
        "level": f"local[{LEVEL}]",
        "cycles": cycles,
        "full_docs_per_sec_median": med("full"),
        "offsets_docs_per_sec_median": med("offsets"),
        "mp_docs_per_sec_median": med("mp"),
        "speedup_offsets_over_full_median": med("offsets_over_full"),
        "spark_over_mp_full_median": med("full_over_mp"),
        "spark_over_mp_offsets_median": med("offsets_over_mp"),
    }
    print(json.dumps(summary))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "offsets.json"), "w") as f:
        json.dump(summary, f, indent=2)
    return 0


if __name__ == "__main__":
    sys.exit(main())
