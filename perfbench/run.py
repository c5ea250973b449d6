#!/usr/bin/env python3
"""The repository benchmark: ocr_spark's pipeline entry points on local[nproc].

    python3 perfbench/run.py --workload crawl_increments --seed 1 --seconds 10 --trace 0

Workloads: crawl_increments, curate, crawl_html, layout_skew. Run from the
root of a checkout. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` additionally runs a traced pass and prints the
per-layer metrics derived from its spans (and writes the spans to
``.perfbench_work/traces/``). The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. Exit status is 0
only when every output check held. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# The local-mode JVM heap, committed in full at start (-Xms = -Xmx): with
# the session's 8g default and a growing heap, peak memory followed GC
# timing alone.
JVM_HEAP = "2g"
END_TO_END = {"docs_per_s": "docs/s", "commit_p50_s": "s", "setup_s": "s",
              "peak_rss_mb": "MB"}
PER_LAYER_UNITS = {"_per_s": "docs/s", "_s": "s", "_ms_sum": "ms",
                   "_ms_max": "ms", "_mb": "MB"}


def pin_environment(scratch: str) -> dict:
    """Clear the env knobs that silently change the measured job (every
    ``OCR_SPARK_*`` variable, e.g. the master, shuffle, Arrow batch,
    extraction impl, blocks mode and JVM pre-scan, plus
    ``SPARK_GRAFT_CPUS``), pin the JVM heap, and point Spark's and the
    JVM's scratch files at ``scratch``/tmp. Returns the cleared values.
    Must run before ``ocr_spark`` is imported: ``ocr_spark.session`` reads
    its Arrow knobs at import."""
    cleared = {k: os.environ.pop(k) for k in sorted(os.environ)
               if k.startswith("OCR_SPARK_") or k == "SPARK_GRAFT_CPUS"}
    os.environ["OCR_SPARK_DRIVER_MEM"] = JVM_HEAP
    tmp = os.path.join(scratch, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_SUBMIT_OPTS"), f"-Xms{JVM_HEAP}")
        if p)
    # Every JVM, the launcher's too: temp files in the run's scratch
    # directory and no perf-data file under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={tmp}") if p)
    return cleared


def tree_pss_bytes(root_pid: int) -> int:
    """Proportional resident bytes (Pss: pages shared between the forked
    Python workers count once in total) of ``root_pid`` and all its
    descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii",
                      errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                total += next(int(line.split()[1]) * 1024 for line in fh
                              if line.startswith("Pss:"))
        except (OSError, StopIteration, ValueError):
            continue
    return total


class PeakMemory:
    """Samples the process tree's Pss every ``interval`` seconds on a
    background thread while in use as a context manager."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_pss_bytes(pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM (its Python workers exit
    with it) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    for suffix, unit in PER_LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio" if "_over_" in name or name.endswith("_frac") \
        or name.endswith("_util") or name.endswith("_share") else "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wall = {"start": time.perf_counter()}

    if not os.path.isdir(os.path.join(ROOT, "ocr_spark")):
        print(f"perfbench: no ocr_spark package under {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    run_id = uuid.uuid4().hex[:12]
    scratch = os.path.join(WORK_ROOT, "runs", f"{args.workload}-{run_id}")
    cleared = pin_environment(scratch)
    sys.path.insert(0, ROOT)

    import pyarrow
    import pyspark

    from corpus import Corpus
    from ocr_spark.session import get_spark
    from spans import Tracer
    from workloads import (
        INCREMENT_WAVES, WARM_WAVES, WORKLOADS, Context, bookkeeping_rows,
        core_rates, layer_metrics, output_stats,
    )

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    job_kw = {"partitions": cores, "big_partitions": 2}
    corpus = Corpus(os.path.join(WORK_ROOT, "cache",
                                 f"{args.workload}-s{args.seed}"), args.seed)
    corpus.base()

    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} nproc={cores} "
          f"master=local[{cores}] shuffle_partitions={cores} "
          f"spark={pyspark.__version__} pyarrow={pyarrow.__version__} "
          f"python={sys.version.split()[0]}")
    print(f"job arguments: {job_kw}; waves {WARM_WAVES} for the warm job and "
          f"{INCREMENT_WAVES} for increments, else the default (4); "
          f"n_buckets and big_threshold at their defaults; JVM heap "
          f"{JVM_HEAP}; cleared env: {cleared or 'none'}")

    spark = None
    wall["prepare"] = time.perf_counter()
    try:
        os.makedirs(os.path.join(scratch, "tmp"))
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{cores}]",
                          shuffle_partitions=cores)
        start_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Context(spark, job_kw, scratch, corpus, args.seed)
        workload = WORKLOADS[args.workload](ctx)
        warm_s = workload.setup()
        wall["setup"] = time.perf_counter()

        with PeakMemory() as mem:
            res = workload.body(args.seconds)
        metrics = {
            "docs_per_s": res["docs_per_s"],
            "commit_p50_s": statistics.median(res["commit_s"]),
            "setup_s": start_s + warm_s,
            "peak_rss_mb": mem.peak / 1e6,
        }
        attempted = res["attempted"]
        wall["body"] = time.perf_counter()
        print(f"timed: {len(res['commit_s'])} jobs, seconds "
              f"{[round(s, 3) for s in res['commit_s']]}")

        if args.trace:
            tracer = Tracer(run_id)
            rows_before = bookkeeping_rows(spark, workload.traced_dir)
            tracer.install()
            try:
                traced = workload.traced(tracer)
            finally:
                tracer.uninstall()
            attempted += traced["attempted"]
            layers = layer_metrics(
                tracer.spans,
                output_stats(spark, workload.traced_dir, traced["out_sids"]),
                bookkeeping_rows(spark, workload.traced_dir) - rows_before,
                core_rates(workload.sample_piece), traced["curations"],
                {"start_s": start_s, "warm_s": warm_s}, cores)
            layers["trace.overhead_frac"] = (
                1 - traced["docs_per_s"] / res["last_docs_per_s"])
            layers["trace.spans"] = len(tracer.spans)
            path = os.path.join(WORK_ROOT, "traces",
                                f"{args.workload}-s{args.seed}-{run_id}.json")
            tracer.dump(path, {"workload": args.workload, "seed": args.seed,
                               "per_layer": layers})
            print(f"trace: {len(tracer.spans)} spans written to "
                  f"{os.path.relpath(path, ROOT)}")
            wall["trace"] = time.perf_counter()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    wall["stop"] = time.perf_counter()
    marks = list(wall.items())
    print("phase seconds: " + ", ".join(
        f"{name} {t - prev:.1f}" for (_, prev), (name, t)
        in zip(marks, marks[1:])), file=sys.stderr)

    print(f"{'metric':40s} {'value':>14s}  unit")
    for name, value in metrics.items():
        print(f"{name:40s} {value:14.4f}  {unit_of(name)}")
    print(f"{'failed_frac':40s} {ctx.failed / attempted:14.4f}  "
          f"ratio ({ctx.failed}/{attempted} docs)")
    if args.trace:
        print("per layer:")
        for name, value in layers.items():
            print(f"  {name:38s} {value:14.4f}  {unit_of(name)}")
    for problem in ctx.problems:
        print(f"CHECK FAILED: {problem}", file=sys.stderr)

    shown = layers if args.trace else metrics
    correct = not ctx.problems and ctx.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)}
                    for k, v in shown.items()}}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
