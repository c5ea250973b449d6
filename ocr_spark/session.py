"""SparkSession factory with the engine's scale-oriented defaults.

Launch precedence: an explicit ``get_spark(master=, shuffle_partitions=)``
argument wins; then, in a driver that spark-submit launched, its
``--master`` and every ``--conf``; then the defaults below. Under
spark-submit the JVM is already up, so the driver heap comes from
``--driver-memory``; ``OCR_SPARK_DRIVER_MEM`` (default 8g) sizes it only
when the session itself launches the JVM (a plain ``python`` driver).

Config rationale (SURVEY.md §4.2):
  * Arrow batches are capped by BYTES (16 MB) first and rows (2048)
    second — Spark cuts a batch when EITHER cap is hit, so ~3 KB pages
    get full 2048-row (~6 MB) batches that amortize per-batch Python
    worker overhead, while multi-MB oversized ``html`` rows get 1-2-row
    batches and can never OOM a worker. The rows cap was swept at
    local[32] saturation (BENCH/arrow_batch.json): no size is a stable
    winner, so both caps are constants; a deployment tunes them with
    ``--conf spark.sql.execution.arrow.maxRecordsPerBatch`` /
    ``maxBytesPerBatch``.
  * ``useLargeVarTypes`` keeps >2 GiB-safe binary/string Arrow buffers.
  * AQE on: coalescing + skew-join splitting for the analytics queries.
  * shuffle.partitions sized for local[N] testing; a real cluster run
    overrides via spark-submit --conf.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 2048
ARROW_BATCH_BYTES = 16 * 1024 * 1024

DEFAULTS = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
    "spark.sql.execution.arrow.maxBytesPerBatch": str(ARROW_BATCH_BYTES),
    "spark.sql.execution.arrow.useLargeVarTypes": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.ui.enabled": "false",
    # keep stdout machine-parseable: bench.py's contract is ONE JSON
    # line on stdout, and the console progress bar would interleave
    # with it (BENCH_r03 recorded "parsed": null for this reason).
    "spark.ui.showConsoleProgress": "false",
}


def _submitted_conf() -> dict[str, str]:
    """The ``--master``/``--conf`` settings of a driver that spark-submit
    launched, which already has a JVM gateway; empty for a plain
    ``python`` driver, whose JVM the session launches itself."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {}
    SparkContext._ensure_initialized()
    return dict(SparkConf().getAll())


def get_spark(app_name: str = "ocr_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    submitted = _submitted_conf()
    conf = {k: v for k, v in DEFAULTS.items() if k not in submitted}
    if not submitted:
        master = master or "local[*]"
        conf["spark.driver.memory"] = os.environ.get(
            "OCR_SPARK_DRIVER_MEM", "8g")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cpus:
        master = f"local[{cpus}]"
    if master:
        conf["spark.master"] = master
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    return SparkSession.builder.appName(app_name).config(map=conf) \
        .getOrCreate()
