"""The extraction operator: salted repartition → Arrow-batched mapInArrow.

This is the Spark-side realization of SURVEY.md §3.4 — the reference's
entire per-document pipeline collapses into ONE mapInArrow stage because
every operator from layout detection onward is per-document. Exactly one
shuffle happens (the explicit salted repartition); the write is
shuffle-free.

One Python boundary: ``extract_pages`` is the only way a page reaches
the kernel — the batch job (through ``run_extraction``), the query plans
and every streaming sink call it. mapInArrow reads the input columns
straight off each RecordBatch and builds the output as pa.arrays, so no
pandas conversion happens on either side of the boundary
(BENCH/arrow_impl.json measured a mapInPandas runner at parity).
``url_bucket`` is the one spelling of the url-hash bucket decision.

Skew control (north rule, SURVEY.md §4.2.1): AQE rebalances by *bytes*, not
by Python-kernel *cost*, so the skew handling is explicit job design:

  * normal rows hash-spread by full-url xxhash64 over P partitions — a hot
    host (50% of rows in the synthetic corpus) cannot concentrate because
    the key is the url, not the host;
  * oversized rows (``length(html) > big_threshold``) are routed to their
    OWN P_big partitions, so one 10 MB document never stalls a partition of
    thousands of normal documents — the two groups are unioned after
    repartitioning, which concatenates (not reshuffles) their partitions.

Output is the structured-JSON contract: extracted ``text`` plus
``blocks/spans/matches`` JSON columns (+ typed views via ``from_json``
with explicit schemas — the JSON→struct parse stays JVM-side).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

DEFAULT_BIG_THRESHOLD = 2_000_000  # bytes of html → "oversized" route
DEFAULT_BUCKETS = 64               # url-hash buckets: checkpoint/commit unit

EXTRACT_RESULT_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("bucket", IntegerType(), True),
    StructField("kind", StringType(), True),
    StructField("text", StringType(), True),
    StructField("n_pages", IntegerType(), True),
    StructField("n_blocks", IntegerType(), True),
    StructField("n_spans", IntegerType(), True),
    StructField("n_matches", IntegerType(), True),
    StructField("n_blocks_dropped", IntegerType(), True),
    StructField("blocks_json", StringType(), True),
    StructField("spans_json", StringType(), True),
    StructField("matches_json", StringType(), True),
    StructField("error", StringType(), True),
    StructField("bytes_in", LongType(), True),
    StructField("extract_ms", DoubleType(), True),
])

BLOCK_STRUCT = ArrayType(StructType([
    StructField("block_id", IntegerType()),
    StructField("page_index", IntegerType()),
    StructField("label", StringType()),
    StructField("bbox", ArrayType(DoubleType())),
    StructField("text", StringType()),
    StructField("char_start", IntegerType()),
    StructField("char_end", IntegerType()),
    StructField("section_info", StringType()),
]))

SPAN_STRUCT = ArrayType(StructType([
    StructField("figure_text", StringType()),
    StructField("text_box", ArrayType(DoubleType())),
    StructField("raw_text", ArrayType(StringType())),
    StructField("section_info", ArrayType(StringType())),
]))

MATCH_STRUCT = ArrayType(StructType([
    StructField("figure_box", ArrayType(DoubleType())),
    StructField("figure_page", IntegerType()),
    StructField("page_num", IntegerType()),
    StructField("raw_text", ArrayType(StringType())),
    StructField("figure_text", StringType()),
    StructField("text_box", ArrayType(DoubleType())),
]))


def url_bucket(n_buckets: int = DEFAULT_BUCKETS) -> Column:
    """The url's output bucket, ``pmod(xxhash64(url), n_buckets)``: the
    checkpoint/commit unit. The one place the bucket decision is spelled,
    so the job's wave filter and every written ``bucket`` column agree."""
    return F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")


def salted_repartition(pages: DataFrame, partitions: int = 128,
                       big_partitions: int = 8,
                       big_threshold: int = DEFAULT_BIG_THRESHOLD
                       ) -> DataFrame:
    """Explicit two-level skew-aware repartition (the job's ONE shuffle).

    Adds ``is_big``; returns a frame whose partitions are: P_big
    oversized-row partitions followed by P url-hash-spread normal
    partitions.
    """
    keyed = pages.withColumn(
        # NULL html must route to the normal path (coalesce, not a bare
        # length comparison — NULL > t is NULL, which both filters drop,
        # silently losing the row); the kernel then emits its null_html
        # failure row so lineage accounts for every input document.
        "is_big",
        F.coalesce(F.length("html"), F.lit(0)) > F.lit(big_threshold))

    normal = keyed.filter(~F.col("is_big")).repartition(partitions, "url")
    big = keyed.filter(F.col("is_big")).repartition(big_partitions, "url")
    # unionAll of two shuffles concatenates their partition lists — no
    # third shuffle, and the giant rows stay physically isolated. BIG
    # partitions go FIRST: tasks are scheduled in partition order, and a
    # multi-second oversized-row task launched last would run as a serial
    # tail after every core has drained (longest-processing-time-first).
    return big.unionAll(normal)


def compact_blocks(blocks: list[dict], text: str) -> list[dict]:
    """Offsets-only block compaction (``OCR_SPARK_BLOCKS_MODE=offsets``).

    Blocks whose text is reconstructable as ``text[char_start:char_end]``
    drop ONLY that duplicated text string (the bulk of the per-block
    payload); everything non-derivable — bbox, section_info — is kept,
    so ``rehydrate_blocks`` restores the full dict losslessly.
    Non-reconstructable blocks (merged captions, figure boxes with
    char_start=-1) pass through untouched.
    """
    out = []
    for b in blocks:
        cs, ce = b.get("char_start", -1), b.get("char_end", -1)
        if (cs is not None and cs >= 0 and b.get("text") is not None
                and text[cs:ce] == b["text"]):
            slim = dict(b)
            del slim["text"]
            out.append(slim)
        else:
            out.append(b)
    return out


def rehydrate_blocks(text: str, blocks: list[dict]) -> list[dict]:
    """Inverse of ``compact_blocks``: fill each offsets-only block's text
    back in from the document text slice. Blocks that kept their full
    dict pass through unchanged."""
    out = []
    for b in blocks:
        if "text" not in b:
            b = dict(b)
            b["text"] = text[b["char_start"]:b["char_end"]]
        out.append(b)
    return out


def _kernel_fn(blocks_mode: str, use_large: bool):
    """Build the mapInArrow kernel closure. ``blocks_mode`` and the Arrow
    string flavor are captured in the closure (cloudpickle ships them to
    executors — no env-var propagation needed on a real cluster).

    Imports stay inside the function so the worker resolves them from the
    --py-files-shipped package, and heavyweight per-executor state (model
    singletons in production, dictionaries here) initializes lazily once.

    Kernel-behavior env flags are captured HERE, driver-side, and
    re-exported into the worker env — executors on a real cluster do not
    inherit the driver's environment, and a flag read lazily in a core
    module would silently fall back to the executor's default.
    """
    offsets = blocks_mode == "offsets"
    kernel_env = {k: os.environ.get(k) for k in (
        "OCR_SPARK_SYMSPELL_CASE",       # U7 case-mode flag (wordseg.py)
        "OCR_SPARK_LAYOUT_IMPL",         # U1 artifact-head seam
        "OCR_SPARK_LAYOUT_ARTIFACT",     # (fixture_extract.py)
        "OCR_SPARK_OCR_IMPL",            # U2 artifact-head seam (boxes.py)
        "OCR_SPARK_OCR_ARTIFACT",
        "OCR_SPARK_CRF_IMPL",            # U6 artifact-head seam
        "OCR_SPARK_CRF_ARTIFACT",        # (mentions.py)
    )}

    def _extract_batches(batches):
        import pyarrow as pa

        for k, v in kernel_env.items():
            if v is not None:
                os.environ[k] = v
            else:
                # reused Python workers outlive jobs: clear any value a
                # previous job exported, or this job silently inherits it
                os.environ.pop(k, None)
        from pyspark.sql.pandas.types import to_arrow_schema

        from ocr_spark.core.extract import extract_document

        # the conversion mapInArrow checks the returned batches with: the
        # string flavor follows the session's useLargeVarTypes, captured
        # driver-side (the worker cannot read the session conf)
        schema = to_arrow_schema(EXTRACT_RESULT_SCHEMA,
                                 prefers_large_types=use_large)

        for batch in batches:
            # input columns read straight off the RecordBatch: no pandas
            # block consolidation, no object-Series boxing of multi-MB html
            urls = batch.column("url").to_pylist()
            htmls = batch.column("html").to_pylist()
            buckets = batch.column("bucket").to_pylist()
            cols: dict[str, list] = {name: [] for name in schema.names}
            for url, raw, bucket in zip(urls, htmls, buckets):
                if isinstance(raw, str):
                    raw = raw.encode("utf-8")
                t0 = time.perf_counter()
                res = extract_document(url, raw)
                ms = (time.perf_counter() - t0) * 1000.0
                blocks = (compact_blocks(res.blocks, res.text)
                          if offsets else res.blocks)
                cols["url"].append(url)
                cols["bucket"].append(bucket)
                cols["kind"].append(res.kind)
                cols["text"].append(res.text)
                cols["n_pages"].append(res.n_pages)
                cols["n_blocks"].append(len(res.blocks))
                cols["n_spans"].append(len(res.spans))
                cols["n_matches"].append(len(res.matches))
                cols["n_blocks_dropped"].append(res.n_blocks_dropped)
                cols["blocks_json"].append(
                    json.dumps(blocks, ensure_ascii=False))
                cols["spans_json"].append(
                    json.dumps(res.spans, ensure_ascii=False))
                cols["matches_json"].append(
                    json.dumps(res.matches, ensure_ascii=False))
                cols["error"].append(res.error)
                cols["bytes_in"].append(len(raw) if raw is not None else 0)
                cols["extract_ms"].append(ms)
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], type=f.type) for f in schema],
                schema=schema)

    return _extract_batches


def extract_pages(pages: DataFrame, n_buckets: int = DEFAULT_BUCKETS,
                  blocks_mode: str | None = None) -> DataFrame:
    """pages(url, html, ...) → one EXTRACT_RESULT_SCHEMA row per page.

    The engine's one Python boundary: adds ``bucket`` (``url_bucket``),
    prunes to the columns the kernel reads, and runs the kernel in one
    mapInArrow stage. No shuffle — partitioning is the caller's (the
    batch job salts first via ``run_extraction``; a streaming
    micro-batch is already bounded).

    ``blocks_mode``: 'full' (default) serializes complete block dicts;
    'offsets' emits offsets-only blocks (see ``compact_blocks``) to cut
    the Arrow IPC bytes leaving the Python worker. Defaults from the
    ``OCR_SPARK_BLOCKS_MODE`` env var so bench/driver runs can flip it
    without a code change.
    """
    mode = blocks_mode or os.environ.get("OCR_SPARK_BLOCKS_MODE", "full")
    use_large = str(pages.sparkSession.conf.get(
        "spark.sql.execution.arrow.useLargeVarTypes",
        "false")).lower() == "true"
    src = pages.select("url", "html", url_bucket(n_buckets).alias("bucket"))
    return src.mapInArrow(_kernel_fn(mode, use_large),
                          schema=EXTRACT_RESULT_SCHEMA)


def run_extraction(pages: DataFrame, partitions: int = 128,
                   big_partitions: int = 8,
                   big_threshold: int = DEFAULT_BIG_THRESHOLD,
                   n_buckets: int = DEFAULT_BUCKETS,
                   blocks_mode: str | None = None) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → extracted results DataFrame:
    the salted repartition (the ONE shuffle) followed by ``extract_pages``.
    """
    return extract_pages(
        salted_repartition(pages, partitions, big_partitions, big_threshold),
        n_buckets=n_buckets, blocks_mode=blocks_mode)


def with_typed_structs(extracted: DataFrame) -> DataFrame:
    """JSON → typed ARRAY<STRUCT> columns, parsed JVM-side by Catalyst."""
    return (extracted
            .withColumn("blocks", F.from_json("blocks_json", BLOCK_STRUCT))
            .withColumn("spans", F.from_json("spans_json", SPAN_STRUCT))
            .withColumn("matches", F.from_json("matches_json", MATCH_STRUCT)))
