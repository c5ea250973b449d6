#!/usr/bin/env python
"""One-off probe: which stage loses scaling efficiency 2->8?

Modes (each runs in its own JVM via --measure-like child):
  passthrough  - Arrow round-trip only (html in, length out; no kernel)
  noshuffle    - full kernel, mapInPandas directly on the scan (no salt
                 shuffle)
  full         - run_extraction as shipped (salt shuffle + kernel)

Arrow batches run at the session's shipped caps; the probe's earlier
runs exported a 512-row batch size.

Usage: python scripts/scaling_probe.py            # all modes, p in {2,8}
       python scripts/scaling_probe.py --child MODE P DIR
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
CORPUS = os.path.join(REPO, ".bench_tmp", "corpus_60000")


def child(mode: str, p: int, corpus: str) -> None:
    from pyspark.sql import functions as F  # noqa: F401

    from ocr_spark.session import get_spark

    spark = get_spark(f"probe-{mode}-{p}", master=f"local[{p}]",
                      shuffle_partitions=p * 2)
    pages = spark.read.parquet(corpus)

    def make_df():
        if mode == "passthrough":
            def k(batches):
                import pandas as pd
                for pdf in batches:
                    yield pd.DataFrame({
                        "url": pdf["url"],
                        "n": [len(h) if h is not None else 0
                              for h in pdf["html"]]})
            return pages.select("url", "html").mapInPandas(
                k, schema="url string, n long")
        if mode == "noshuffle":
            def k(batches):
                import pandas as pd

                from ocr_spark.core.extract import extract_document
                for pdf in batches:
                    texts = [extract_document(u, bytes(h)).text
                             for u, h in zip(pdf["url"], pdf["html"])]
                    yield pd.DataFrame({"url": pdf["url"], "n": [
                        len(t) for t in texts]})
            return pages.select("url", "html").mapInPandas(
                k, schema="url string, n long")
        from ocr_spark.operators.extraction import run_extraction
        return run_extraction(pages, partitions=p * 4, big_partitions=2)

    make_df().limit(2000).count()  # warm workers
    t0 = time.perf_counter()
    n = make_df().count()
    dt = time.perf_counter() - t0
    print(json.dumps({"mode": mode, "p": p, "docs": n,
                      "docs_per_sec": round(n / dt, 1)}))
    spark.stop()


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(sys.argv[2], int(sys.argv[3]), sys.argv[4])
        return 0
    res: dict = {}
    # interleave: mode-major, level-minor back-to-back per mode
    for mode in ("passthrough", "noshuffle", "full"):
        for p in (2, 8):
            out = subprocess.run(
                [sys.executable, __file__, "--child", mode, str(p), CORPUS],
                capture_output=True, text=True, cwd=REPO, check=True)
            line = [ln for ln in out.stdout.splitlines()
                    if ln.startswith("{")][-1]
            r = json.loads(line)
            res.setdefault(mode, {})[p] = r["docs_per_sec"]
            print(r)
    for mode, d in res.items():
        print(mode, "eff 2->8:", round(d[8] / (4 * d[2]), 3))
    return 0


if __name__ == "__main__":
    sys.exit(main())
