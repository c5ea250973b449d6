"""Structured Streaming ingestion for the extraction pipeline.

The reference has NO streaming surface (synchronous request/response,
SURVEY.md §2.10). The batch job covers the north rule's resumability
with its manifest chain: a rerun folds the committed output snapshots
and extracts only the (input snapshot, bucket) units they do not hold.
This module adds the Spark-native incremental path a production crawl
ingest would use:

  * ``stream_extract`` — a file-source stream over the pages table
    driven with ``Trigger.AvailableNow``: each invocation processes
    exactly the files that arrived since the last run, tracked by
    Spark's own streaming checkpoint (offsets + commits). The
    transformation is the batch job's own Python boundary,
    ``extract_pages`` (one mapInArrow stage, same ``bucket`` column),
    without its salted repartition — streaming micro-batches are
    already bounded, so the explicit two-level salting of the batch job
    is replaced by ``maxFilesPerTrigger``-bounded batches.
  * ``stream_page_metrics`` — event-time windowed aggregation with a
    watermark: pages/minute per lang over ``warc_ts``, late rows beyond
    the watermark dropped — the standard late-data pattern.
  * ``stream_host_counters`` — ``applyInPandasWithState``: a custom
    stateful per-host running counter (docs + bytes seen so far),
    emitting one update row per host per micro-batch. This is the
    streaming-state analogue of the batch job's per-bucket checkpoint
    bookkeeping.
  * ``foreachBatch`` sinks (near-dup, PSI drift, dead-letter, validation
    gate, router, sketch stores, ...) that decide through the batch
    job's and the oracle-checked queries' own kernels, never a copy.

A micro-batch is a commit unit of the extraction output chain. Every
sink that writes extraction rows (``stream_extract``,
``stream_extract_dedup``, the near-dup, dead-letter, validation-gate
and router sinks) takes the job's ``work_dir`` and commits its kept
rows through the batch job's commit step (``job.commit_unit``), so the
job's tables, ``read_extracted``, curation, validation, stats and
export see streamed output. Exactly-once on replay is the chain fold:
Spark re-runs an epoch whose commit was not logged with the same batch
id, and a batch whose unit the fold holds commits nothing. Until
publish is a compare-and-swap, run one writer per work dir at a time
(a stream is a second writer beside the batch job).

The other sinks, and the extraction sinks' side outputs (signature
store, quarantine, gate report, route census), write each micro-batch
under ``<key>=<batch id>`` with overwrite (``_write_batch``): a re-run
epoch replaces its own directory with identical content.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ocr_spark.job import _resume_state, commit_unit
from ocr_spark.operators.extraction import (
    DEFAULT_BIG_THRESHOLD, DEFAULT_BUCKETS, EXTRACT_RESULT_SCHEMA,
    extract_pages,
)
from ocr_spark.sources import PAGES_SCHEMA

HOST_STATE_SCHEMA = StructType([
    StructField("docs", LongType()),
    StructField("bytes", LongType()),
])

HOST_OUT_SCHEMA = StructType([
    StructField("host", StringType()),
    StructField("docs_total", LongType()),
    StructField("bytes_total", LongType()),
])


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream over a directory of pages parquet files. New
    files are discovered per micro-batch; ``maxFilesPerTrigger`` bounds
    batch size (the streaming analogue of the batch job's salting —
    micro-batches can't grow unbounded)."""
    return (spark.readStream
            .schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(input_dir))


def _drain(frame: DataFrame, sink: Callable[[DataFrame, int], None],
           checkpoint_dir: str) -> Any:
    """Run ``sink`` on every micro-batch of ``frame`` under the
    streaming checkpoint, stopping once the input present at start is
    drained (Trigger.AvailableNow). Returns the query handle."""
    return (frame.writeStream
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def _append_files(frame: DataFrame, fmt: str, path: str,
                  checkpoint_dir: str) -> Any:
    """Drain ``frame`` into Spark's ``fmt`` file sink at ``path``
    (AvailableNow, append): its manifest log is natively exactly-once."""
    return (frame.writeStream.format(fmt).option("path", path)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def _write_batch(df: DataFrame, root: str, key: str, batch_id: int) -> None:
    """Commit one micro-batch's rows as ``root/<key>=<batch_id>`` with
    overwrite: a replayed epoch replaces its own directory."""
    df.write.mode("overwrite").parquet(
        os.path.join(root, f"{key}={batch_id}"))


Commit = Callable[[DataFrame], None]


def _chain_sink(work_dir: str, body: Callable[[DataFrame, int, Commit], None]
                ) -> Callable[[DataFrame, int], None]:
    """A foreachBatch sink committing each micro-batch into ``work_dir``'s
    extraction output chain as the unit ``stream:<query id>:<batch id>``.
    ``body(batch_df, batch_id, commit)`` writes the batch's side outputs,
    then calls ``commit`` with the rows it keeps (or never).

    The query id is the one Spark keeps in the streaming checkpoint: the
    same across restarts of one query, new for a new checkpoint, so a
    fresh checkpoint at an old path never inherits committed keys. First
    ``_resume_state`` repairs skipped table exports, refuses a chain
    recorded under another ``n_buckets`` and folds the chain: a batch
    whose key the fold holds (a replayed epoch, compacted or not) runs
    no Spark job. The record holds the whole bucket range, ``skew_salt``
    0 and the micro-batch's input files; the snapshot id
    ``stream-<query id>-b<batch id>`` is deterministic, so a re-stage
    after a crash before publish overwrites its own staged dir."""
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        query = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        if query is None:
            raise RuntimeError("a chain sink runs inside a streaming query")
        unit = f"stream:{query}:{batch_id}"
        if unit in _resume_state(work_dir, DEFAULT_BUCKETS)[0]:
            return
        files = sorted(batch_df.inputFiles())

        def commit(rows: DataFrame) -> None:
            commit_unit(
                spark, rows.select(*EXTRACT_RESULT_SCHEMA.fieldNames()),
                work_dir, f"stream-{query}-b{batch_id}", input_sid=unit,
                input_files=files, run_id=uuid.uuid4().hex[:12],
                buckets=list(range(DEFAULT_BUCKETS)), skew_salt=0,
                n_buckets=DEFAULT_BUCKETS, big_threshold=DEFAULT_BIG_THRESHOLD)

        body(batch_df, batch_id, commit)

    return sink


def stream_extract(spark: SparkSession, input_dir: str, work_dir: str,
                   checkpoint_dir: str) -> Any:
    """Incremental extraction into ``work_dir``'s extraction output
    chain: AvailableNow drains all pending files in bounded
    micro-batches, then stops; each micro-batch commits as one unit, so
    it lands in the job's checkpoint, lineage and metrics tables. A
    rerun processes ONLY new files, and a replayed epoch is skipped by
    the chain fold. Returns the query handle (caller awaits it)."""
    return _drain(extract_pages(read_pages_stream(spark, input_dir)),
                  _chain_sink(work_dir, lambda df, _b, commit: commit(df)),
                  checkpoint_dir)


def stream_extract_dedup(spark: SparkSession, input_dir: str,
                         work_dir: str, checkpoint_dir: str,
                         dedup_window: str = "10 minutes") -> Any:
    """``stream_extract`` with a streaming re-crawl dedup stage: a url
    seen again within ``dedup_window`` of event time (warc_ts) is
    dropped BEFORE the expensive Python extraction kernel runs; the
    survivors commit into ``work_dir``'s chain, one unit per
    micro-batch, exactly once by the chain fold.

    ``dropDuplicatesWithinWatermark`` keys state by url and — unlike
    plain ``dropDuplicates`` on a streaming frame, whose state grows
    forever — evicts each key once the watermark passes its event time,
    so state is bounded by (crawl rate × window) regardless of how long
    the stream runs. That bounded-state property is the 100 TB
    requirement: a continuous crawl ingests the same hot urls
    repeatedly, and unbounded url state would OOM the state store in
    days. A url re-captured FARTHER apart than the window reaches the
    chain twice, as a re-crawl committed by a later batch snapshot does:
    the latest-capture-wins rule the chain still lacks (ROADMAP
    direction 1) is what will retract the older row."""
    deduped = (read_pages_stream(spark, input_dir)
               .withWatermark("warc_ts", dedup_window)
               .dropDuplicatesWithinWatermark(["url"]))
    return _drain(extract_pages(deduped),
                  _chain_sink(work_dir, lambda df, _b, commit: commit(df)),
                  checkpoint_dir)


def stream_page_metrics(spark: SparkSession, input_dir: str,
                        checkpoint_dir: str,
                        watermark: str = "10 minutes",
                        window: str = "1 minute") -> Any:
    """Event-time windowed counts per lang with a watermark: rows later
    than ``watermark`` behind the max seen ``warc_ts`` are dropped; the
    aggregation state for closed windows is evicted — bounded state at
    any input volume. Sink = in-memory table ``page_metrics``."""
    pages = read_pages_stream(spark, input_dir)
    agg = (pages
           .withWatermark("warc_ts", watermark)
           .groupBy(F.window("warc_ts", window).alias("w"), "lang")
           .agg(F.count("*").alias("n_pages"),
                F.sum(F.length("html")).alias("bytes_in"))
           .select(F.col("w.start").alias("window_start"),
                   F.col("w.end").alias("window_end"),
                   "lang", "n_pages", "bytes_in"))
    return (agg.writeStream
            .format("memory")
            .queryName("page_metrics")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .outputMode("append")
            .start())


def stream_host_sessions(spark: SparkSession, input_dir: str,
                         output_dir: str, checkpoint_dir: str,
                         watermark: str = "10 minutes",
                         gap: str = "5 minutes") -> Any:
    """Gap-based sessionization in STREAMING mode via the native
    ``session_window`` — the stateful shape the batch ``ev_sessionize``
    family computes with a lag-window, done here with Spark's built-in
    session state: a host's session closes when no page arrives for
    ``gap``, and the closed session emits (append mode) once the
    watermark passes its end. State is bounded by open sessions per
    host — the watermark evicts closed ones — so this runs indefinitely
    on an unbounded crawl feed. Sink = parquet via foreachBatch, one
    ``batch_id=<id>`` directory per micro-batch (the memory sink cannot
    recover from a checkpoint, and session closure spans restarts by
    design)."""
    pages = read_pages_stream(spark, input_dir)
    hosts = pages.select(
        F.col("warc_ts"),
        F.regexp_extract("url", r"https?://([^/]+)", 1).alias("host"),
        F.length("html").alias("page_bytes"))
    agg = (hosts
           .withWatermark("warc_ts", watermark)
           .groupBy(F.session_window("warc_ts", gap).alias("s"), "host")
           .agg(F.count("*").alias("n_pages"),
                F.sum("page_bytes").alias("bytes_in"))
           .select(F.col("s.start").alias("session_start"),
                   F.col("s.end").alias("session_end"),
                   "host", "n_pages", "bytes_in"))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch(batch_df, output_dir, "batch_id", batch_id)

    return _drain(agg, sink, checkpoint_dir)


def _update_host_state_fn(ttl_ms: int | None):
    """Build the stateful kernel: accumulate (docs, bytes) per host
    across micro-batches; emit the running totals once per batch.

    With ``ttl_ms`` set, a host whose state saw no data for ``ttl_ms``
    of processing time is EVICTED (``state.remove()``) on the timeout
    callback — the state store stays bounded by the *active* host
    population instead of growing monotonically with every host ever
    seen (the one unbounded-state surface flagged in round 1)."""
    def update(key: tuple, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()          # idle host: drop its counters
            return                  # nothing to emit for an eviction
        docs, nbytes = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            docs += len(pdf)
            nbytes += int(pdf["page_bytes"].sum())
        state.update((docs, nbytes))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame({"host": [key[0]], "docs_total": [docs],
                            "bytes_total": [nbytes]})

    return update


def stream_host_counters(spark: SparkSession, input_dir: str,
                         output_dir: str, checkpoint_dir: str,
                         ttl_ms: int | None = None,
                         trigger_interval: str | None = None) -> Any:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-host running (docs, bytes) counters surviving across
    micro-batches AND across restarts in the state store. Update mode:
    one row per host per batch with the new totals, committed under
    ``batch_id=<id>`` via foreachBatch (the memory sink cannot recover
    from a checkpoint; foreachBatch is the production pattern for
    update-mode state).

    ``ttl_ms``: idle-state TTL. None keeps state forever (exact
    all-time totals — correct when the host universe is bounded);
    setting it switches to ProcessingTimeTimeout and evicts hosts idle
    longer than the TTL, bounding state under a rolling host population
    (totals then restart from zero if an evicted host returns).

    ``trigger_interval``: None → Trigger.AvailableNow (drain-and-stop);
    a string like ``'1 second'`` → a continuous processing-time trigger
    (caller stops the query). TTL REQUIRES the continuous trigger:
    processing-time timeouts schedule follow-up batches, which keeps an
    AvailableNow drain from ever terminating (measured on this Spark —
    the pairing is rejected below rather than left to hang)."""
    if ttl_ms is not None and trigger_interval is None:
        raise ValueError(
            "ttl_ms requires trigger_interval (ProcessingTimeTimeout "
            "never terminates under Trigger.AvailableNow)")
    pages = read_pages_stream(spark, input_dir)
    hosts = pages.select(
        # no trailing slash in the pattern: a path-less url like
        # 'https://example.com' must still attribute to its host
        F.regexp_extract("url", r"https?://([^/]+)", 1).alias("host"),
        F.length("html").alias("page_bytes"))
    counters = hosts.groupBy("host").applyInPandasWithState(
        _update_host_state_fn(ttl_ms),
        outputStructType=HOST_OUT_SCHEMA,
        stateStructType=HOST_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout
                     if ttl_ms is not None else GroupStateTimeout.NoTimeout),
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch(batch_df, output_dir, "batch_id", batch_id)

    ws = (counters.writeStream
          .foreachBatch(sink)
          .option("checkpointLocation", checkpoint_dir)
          .outputMode("update"))
    ws = (ws.trigger(processingTime=trigger_interval) if trigger_interval
          else ws.trigger(availableNow=True))
    return ws.start()


def stream_extract_near_dup(spark: SparkSession, input_dir: str,
                            work_dir: str, sigstore_dir: str,
                            checkpoint_dir: str,
                            compact_every: int = 0) -> Any:
    """Streaming NEAR-dup dedup against an accumulating signature
    store — the incremental form of the batch curation job's neardup
    stage (job.py run_curation_job): each micro-batch extracts its
    pages, MinHash-signs the extracted text, LSH-probes the signatures
    of EVERYTHING ACCEPTED SO FAR (the parquet signature store), drops
    arrivals whose best signature-overlap Jaccard estimate clears
    NEAR_DUP_JACCARD, stores the survivors' signatures under
    ``batch=<id>`` with overwrite, then commits their rows into
    ``work_dir``'s extraction output chain. A re-delivered epoch whose
    unit is committed is skipped by the chain fold; otherwise the store
    probe excludes the batch's own partition, so it never collides with
    its own half-committed signatures (test_stream_near_dup_sink_idempotent).

    Exact-url revisits are handled upstream by
    dropDuplicatesWithinWatermark (stream_extract_dedup); THIS stage
    catches the content-drift case (re-crawl with edits, mirrors under
    new urls) that url state can never see.

    Scale shape: the probe is the frame-level lsh_pairs machinery
    restricted new×store via the (band, bucket) equi-join; the store
    holds one K-long signature row per accepted doc (bytes per doc ~
    8·K — 10^9 docs ≈ 100 GB parquet, a normal Spark table, pruned by
    the bucket join and the batch partition filter, never the raw
    text); batch-internal duplicates are collapsed within the batch
    first (cheapest work wins)."""
    pages = read_pages_stream(spark, input_dir)
    return _drain(extract_pages(pages),
                  near_dup_sink(work_dir, sigstore_dir,
                                compact_every=compact_every),
                  checkpoint_dir)


def near_dup_sink(work_dir: str, sigstore_dir: str,
                  compact_every: int = 0):
    """The foreachBatch body of stream_extract_near_dup, exposed so the
    exactly-once property (same batch_id twice → identical output) is
    directly testable. The in-batch collapse is the curation job's
    candidate step (lsh_pairs_frame at NEAR_DUP_JACCARD: the larger url
    of a verified pair drops) and the store probe verifies with the
    same sig_overlap_est.

    ``compact_every`` > 0 runs the signature-store small-files
    maintenance (compact_near_dup_store) inline every N batches, after
    the batch's own commits, with ``keep_last=1`` so the partition
    just written for THIS batch_id is never folded into ``batch=-1``,
    where the ``batch != batch_id`` probe filter could not exclude it.
    The trigger depends only on batch_id; a committed epoch's replay is
    skipped by the chain fold and leaves the fold to the next trigger.
    The survivors' rows commit into ``work_dir``'s chain through
    ``_chain_sink``, after their signatures are stored."""
    from ocr_spark.plans.dataops import (
        NEAR_DUP_JACCARD, lsh_bands_frame, lsh_pairs_frame,
        minhash_sigs_frame, sig_overlap_est,
    )

    def body(batch_df: DataFrame, batch_id: int,
             commit: Commit) -> None:
        bdf = batch_df.filter(
            F.col("error").isNull() & F.col("text").isNotNull()
            & (F.col("text") != "")).persist()
        sigs = minhash_sigs_frame(bdf, key="url", text_col="text").persist()
        try:
            # (1) collapse batch-internal near-dups (keep min url)
            internal_drops = (lsh_pairs_frame(sigs, "url")
                              .filter(F.col("jaccard_est")
                                      >= NEAR_DUP_JACCARD)
                              .select(F.col("key_b").alias("url"))
                              .distinct())
            survivors = sigs.join(internal_drops, "url", "left_anti")
            # (2) probe the accumulated store — excluding the current
            # batch's own partition, so a re-delivered batch never
            # probes its own half-committed signatures (partition
            # pruning makes the exclusion free)
            spark_l = batch_df.sparkSession
            has_store = os.path.isdir(sigstore_dir) and any(
                f.startswith("batch=") and f != f"batch={batch_id}"
                for f in os.listdir(sigstore_dir))
            if has_store:
                store = (spark_l.read.parquet(sigstore_dir)
                         .filter(F.col("batch") != batch_id)
                         .select("url", "minvec"))
                nb = lsh_bands_frame(survivors, "url")
                sb = lsh_bands_frame(store, "url") \
                    .withColumnRenamed("url", "store_url")
                cand = (nb.join(sb, ["band", "bucket"])
                        .select("url", "store_url").distinct())
                va = survivors.select("url", F.col("minvec").alias("va"))
                vb = store.select(F.col("url").alias("store_url"),
                                  F.col("minvec").alias("vb"))
                store_drops = (cand.join(va, "url").join(vb, "store_url")
                               .filter(sig_overlap_est("va", "vb")
                                       >= NEAR_DUP_JACCARD)
                               .select("url").distinct())
                survivors = survivors.join(store_drops, "url", "left_anti")
            _write_batch(survivors.select("url", "minvec"),
                         sigstore_dir, "batch", batch_id)
            commit(bdf.join(survivors.select("url"), "url"))
            if compact_every > 0 and (batch_id + 1) % compact_every == 0:
                compact_near_dup_store(spark_l, sigstore_dir, keep_last=1)
        finally:
            sigs.unpersist()
            bdf.unpersist()

    return _chain_sink(work_dir, body)


def stream_wet_export(spark: SparkSession, input_dir: str,
                      output_dir: str, checkpoint_dir: str) -> Any:
    """Streaming WET export — the incremental form of
    plans/webops.py::pages_wet_export: pages stream in, extraction
    runs per micro-batch, and each page leaves as one
    Common-Crawl-WET-shaped conversion record (WARC/1.0 headers +
    UTF-8-byte Content-Length + extracted text) in a text sink. The
    record-building expressions are shared with the oracle-checked
    batch query by construction (same header literals, same
    octet_length), so streaming and batch WET output are
    byte-identical for the same page.

    Scale shape: extraction's own exchange per micro-batch, then a
    narrow string build into an append-only text sink — Structured
    Streaming's checkpoint gives exactly-once file output natively
    (the manifest-tracked file sink), no foreachBatch needed."""
    pages = read_pages_stream(spark, input_dir)
    extracted = extract_pages(pages)
    ok = extracted.filter(F.col("error").isNull()
                          & F.col("text").isNotNull())
    clen = F.octet_length("text")
    record = F.concat(
        F.concat_ws(
            "\r\n",
            F.lit("WARC/1.0"),
            F.lit("WARC-Type: conversion"),
            F.concat(F.lit("WARC-Target-URI: "), F.col("url")),
            F.lit("WARC-Date: 2025-01-01T00:00:00Z"),
            F.lit("Content-Type: text/plain"),
            F.concat(F.lit("Content-Length: "), clen.cast("string"))),
        F.lit("\r\n\r\n"), F.col("text"))
    return _append_files(ok.select(record.alias("value")), "text",
                         output_dir, checkpoint_dir)


def stream_cdx_index(spark: SparkSession, input_dir: str,
                     output_dir: str, checkpoint_dir: str) -> Any:
    """Streaming CDXJ capture-index sink — the incremental form of
    plans/indexing.py::pages_cdx_index: pages stream in and each
    micro-batch writes a (surt_key, ts14)-sorted index RUN under a
    batch_id-keyed partition with overwrite (the near_dup_sink
    exactly-once discipline: crash re-delivery replaces the partition
    with identical content). The record columns come from the SAME
    builder as the batch query (cdx_columns), so batch and streaming
    index rows are byte-identical for the same page. Cross-batch
    consolidation into one globally-ordered index is deliberately NOT
    done here — merging sorted runs incrementally is
    pages_cdx_merge's job, exactly how CC accumulates per-crawl CDX
    shards into the cumulative index."""
    from ocr_spark.plans.indexing import cdx_columns

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        run = (cdx_columns(batch_df)
               .repartitionByRange(8, "surt_key", "ts14")
               .sortWithinPartitions("surt_key", "ts14"))
        _write_batch(run, output_dir, "batch", batch_id)

    return _drain(read_pages_stream(spark, input_dir), sink, checkpoint_dir)


def stream_wat_export(spark: SparkSession, input_dir: str,
                      output_dir: str, checkpoint_dir: str) -> Any:
    """Streaming WAT metadata export — completes the incremental CC
    artifact trio (WET: stream_wet_export, CDX: stream_cdx_index):
    pages stream in and each leaves as one WAT JSON line in a text
    sink, built by the SAME column map as the batch query
    (plans/indexing.py::wat_columns) so streaming and batch records
    are byte-identical for the same page. Zero per-batch shuffle —
    the record is a narrow JVM map — and the native file sink's
    manifest gives exactly-once output."""
    from ocr_spark.plans.indexing import wat_columns

    pages = read_pages_stream(spark, input_dir)
    return _append_files(
        wat_columns(pages).select(F.col("wat_record").alias("value")),
        "text", output_dir, checkpoint_dir)


def stream_quality_gate(spark: SparkSession, input_dir: str,
                        output_dir: str, checkpoint_dir: str) -> Any:
    """Incremental filter stage: pages stream in, extraction runs per
    micro-batch, and each extracted page gets the Gopher quality
    verdict + detected language through the SAME frame kernels as the
    batch queries (dataops.gopher_gate_frame / langid_hit_cols). The
    batch curation job's quality gate is the same kernel
    (dataops.gopher_gate_cols, rounded thresholds included), so a page
    the streaming gate admits is exactly a page whose text passes the
    batch pipeline's Gopher gate. Output is all pages WITH their feature
    columns and verdict (the audit row), not just the survivors — the
    downstream sink filters on ``keep``. Everything past extraction
    is a narrow JVM map; the parquet sink is natively exactly-once."""
    from ocr_spark.plans.dataops import (
        _tokens, gopher_gate_frame, langid_hit_cols, langid_pred_col,
    )

    pages = read_pages_stream(spark, input_dir)
    extracted = extract_pages(pages)
    ok = extracted.filter(F.col("error").isNull()
                          & F.col("text").isNotNull())
    with_lang = (ok.select("url", "text", *langid_hit_cols(_tokens()))
                 .withColumn("lang", langid_pred_col())
                 .select("url", "text", "lang"))
    out = gopher_gate_frame(with_lang, "url", carry=("lang",))
    return _append_files(out, "parquet", output_dir, checkpoint_dir)


PSI_FLAG = 0.25   # the standard PSI rule of thumb: >0.25 = investigate


def quality_reference_counts(extracted: DataFrame) -> DataFrame:
    """(bin, n_ref): the quality classifier's score histogram over an
    extraction output, binned by docs_quality_psi's own bin kernel —
    the committed yardstick stream_quality_psi monitors drift against,
    and each micro-batch's side of that comparison. Counts, not
    shares, so the Laplace smoothing runs on exact integers."""
    from ocr_spark.plans.curation import classifier_score_frame, psi_bin_col

    ok = extracted.filter(F.col("error").isNull()
                          & F.col("text").isNotNull()
                          & (F.length("text") > 0))
    scored = classifier_score_frame(ok.select("url", "text"))
    return (scored.select(psi_bin_col().alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n_ref")))


def psi_sink(reference_dir: str, out_dir: str):
    """foreachBatch body of stream_quality_psi: extract the batch,
    histogram its classifier scores (quality_reference_counts — the
    SHARED classifier recipe, curation.classifier_score_frame, the same
    scores the batch queries and the labeling job see), and compute
    the Population Stability Index against the committed reference
    histogram with docs_quality_psi's own term kernel
    (curation.psi_terms_frame: Laplace +1 over the union of observed
    bins, integer micro-unit terms). One row per micro-batch
    (batch_id-keyed overwrite): doc count, bin count, PSI, and the
    >0.25 flag — the alarm that tells an operator the CRAWL changed
    before a bad batch trains anything."""
    from ocr_spark.plans.curation import psi_terms_frame

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ref = batch_df.sparkSession.read.parquet(reference_dir)
        new = quality_reference_counts(extract_pages(batch_df)) \
            .withColumnRenamed("n_ref", "n_new")
        u = (ref.join(new, "bin", "full_outer")
             .select("bin",
                     F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
                     F.coalesce("n_new", F.lit(0)).alias("n_new")))
        row = (psi_terms_frame(u, "n_ref", "n_new")
               .groupBy(F.col("t_new").alias("n_docs"), "n_bins")
               .agg(F.sum("psi_term_micro").cast("long")
                    .alias("psi_micro")))
        out = row.select(
            "n_docs", "n_bins",
            F.round(F.col("psi_micro") / 1e6, 6).alias("psi"),
            (F.col("psi_micro") > int(PSI_FLAG * 1e6)).alias("flagged"))
        _write_batch(out.coalesce(1), out_dir, "batch_id", batch_id)

    return sink


def stream_quality_psi(spark: SparkSession, input_dir: str,
                       reference_dir: str, out_dir: str,
                       checkpoint_dir: str) -> Any:
    """Per-micro-batch score-distribution drift monitor — the
    streaming twin of docs_quality_psi: every arriving batch is
    extracted, scored with the shared classifier, and PSI'd against
    the committed reference histogram (quality_reference_counts).
    Exactly-once via batch_id-keyed overwrite; deterministic, so
    epoch re-delivery reproduces the identical verdict row."""
    return _drain(read_pages_stream(spark, input_dir),
                  psi_sink(reference_dir, out_dir), checkpoint_dir)


def dlq_reason_col() -> Column:
    """FIRST-failing row check over extraction output rows, in the
    order of job.row_checks — the same predicates run_validation_job's
    suite counts — so a row quarantined in streaming is exactly a row
    the batch gate would count as a violation. NULL = row is clean."""
    from ocr_spark.job import row_checks

    (reason, bad), *rest = row_checks()
    tag = F.when(bad, reason)
    for reason, bad in rest:
        tag = tag.when(bad, reason)
    return tag


def dlq_sink(work_dir: str, quarantine_dir: str):
    """foreachBatch body of stream_extract_dlq, exposed so exactly-once
    (same batch_id twice → identical output AND quarantine) is directly
    testable. Clean rows commit into ``work_dir``'s extraction output
    chain (``_chain_sink``); violating rows are NOT dropped — they land
    in ``quarantine_dir`` tagged with the first failing constraint (the
    dead-letter-queue pattern: a malformed page must stay inspectable
    and replayable, silently vanishing rows are how crawl pipelines lose
    corpus mass unaccounted). The quarantine is a batch_id-keyed
    overwrite written before the commit, and a re-delivered epoch whose
    unit is committed is skipped by the chain fold, so replay never
    appends duplicates on either side."""
    def body(batch_df: DataFrame, batch_id: int,
             commit: Commit) -> None:
        tagged = batch_df.withColumn("dlq_reason", dlq_reason_col()) \
            .persist()
        try:
            _write_batch(tagged.filter(F.col("dlq_reason").isNotNull()),
                         quarantine_dir, "batch", batch_id)
            commit(tagged.filter(F.col("dlq_reason").isNull()))
        finally:
            tagged.unpersist()

    return _chain_sink(work_dir, body)


def stream_extract_dlq(spark: SparkSession, input_dir: str,
                       work_dir: str, quarantine_dir: str,
                       checkpoint_dir: str) -> Any:
    """Incremental extraction with a dead-letter queue: every
    micro-batch extracts, then routes rows through the shared
    row-level constraint classifier — clean rows into ``work_dir``'s
    extraction output chain, violating rows (extract errors, empty text,
    missing blocks, bad byte accounting) to the quarantine table with
    their reason. Exactly-once by the chain fold on the output side and
    by batch_id-keyed overwrite on the quarantine side."""
    pages = read_pages_stream(spark, input_dir)
    return _drain(extract_pages(pages),
                  dlq_sink(work_dir, quarantine_dir), checkpoint_dir)


def validation_gate_sink(work_dir: str, report_dir: str,
                         max_error_frac: float | None = None):
    """foreachBatch body of stream_extract_validated: run the batch
    job's FULL Deequ-style constraint suite (job.constraint_suite —
    literally the same function run_validation_job commits reports
    from) over each micro-batch, with a FAIL-THE-BATCH policy: a
    batch with any violated constraint is NOT committed to the
    extraction output chain at all (vs dlq_sink's row routing) — its
    rows stay replayable at the source, and the gate decision itself is
    kept: every batch writes a per-constraint report row set under
    ``report_dir/batch_id=<id>`` with a ``batch_committed`` flag, before
    a passing batch commits into ``work_dir``'s chain (``_chain_sink``).

    Exactly-once: the suite is deterministic, so crash re-delivery of an
    uncommitted epoch re-evaluates to the identical verdict and replaces
    its report partition with identical content; an epoch whose unit is
    committed is skipped by the chain fold."""
    from ocr_spark.job import VALIDATION_MAX_ERROR_FRAC, constraint_suite

    frac = (VALIDATION_MAX_ERROR_FRAC
            if max_error_frac is None else max_error_frac)

    def body(batch_df: DataFrame, batch_id: int,
             commit: Commit) -> None:
        batch_df.persist()
        try:
            constraints = constraint_suite(batch_df, frac)
            failed = {n: int(v) for n, _c, v in constraints if v}
            rows = [(name, int(checked), int(viol), viol == 0,
                     not failed)
                    for name, checked, viol in constraints]
            _write_batch(batch_df.sparkSession.createDataFrame(
                rows, "constraint string, checked long, "
                      "violations long, passed boolean, "
                      "batch_committed boolean").coalesce(1),
                report_dir, "batch_id", batch_id)
            if not failed:
                commit(batch_df)
        finally:
            batch_df.unpersist()

    return _chain_sink(work_dir, body)


def stream_extract_validated(spark: SparkSession, input_dir: str,
                             work_dir: str, report_dir: str,
                             checkpoint_dir: str,
                             max_error_frac: float | None = None) -> Any:
    """Incremental extraction behind the promotion gate: every
    micro-batch extracts, then the batch validation job's constraint
    suite decides whether the WHOLE batch commits into ``work_dir``'s
    extraction output chain (round-4 verdict #6 — the streaming twin of
    run_validation_job(gate=True), closing the loop that dlq_sink's
    per-row routing leaves open: a systemically bad batch must not
    promote even one row). Gate verdicts land in the report table
    either way; exactly-once by the chain fold and the report's
    batch_id-keyed overwrite.

    The suite sees one micro-batch at a time, so ``url_unique`` holds
    per batch only: a url arriving in two different batches passes both
    gates. Every committed batch is a unit of the work dir's chain, so
    ``job.run_validation_job(spark, work_dir)`` checks ``url_unique``
    across micro-batches (and batch waves) alike."""
    pages = read_pages_stream(spark, input_dir)
    return _drain(extract_pages(pages),
                  validation_gate_sink(work_dir, report_dir,
                                       max_error_frac),
                  checkpoint_dir)


def router_sink(work_dir: str, census_dir: str):
    """foreachBatch body of stream_extract_routed: apply the published
    pre-extraction router (plans/htmlfeat.py::route_for_html — the
    route kernel the pages_extract_router query table also evaluates,
    so the two surfaces cannot drift) to each micro-batch BEFORE
    extraction: only
    'extract' and 'oversized' pages proceed through the kernel and
    commit into ``work_dir``'s extraction output chain
    (``_chain_sink``); condemned pages ('link_heavy' / 'low_text') are
    not extracted at all — the whole point: at crawl scale the router
    must refuse to pay Arrow + Python for pages a JVM regexp already
    condemned — and their counts land in a per-batch route census so
    corpus mass stays accounted (the dlq_sink nothing-silently-vanishes
    discipline, at the routing stage).

    Exactly-once: the census is a batch_id-keyed overwrite written
    before the commit, the router expression is deterministic, and an
    epoch whose unit is committed is skipped by the chain fold."""
    from ocr_spark.plans.htmlfeat import route_for_html

    def body(batch_df: DataFrame, batch_id: int,
             commit: Commit) -> None:
        routed = batch_df.withColumn(
            "route", route_for_html(F.col("html"))).persist()
        try:
            census = (routed.groupBy("route")
                      .agg(F.count("*").cast("long").alias("n_pages"),
                           F.sum(F.length("html")).cast("long")
                           .alias("bytes_in")))
            _write_batch(census.coalesce(1), census_dir, "batch_id",
                         batch_id)
            commit(extract_pages(routed.filter(
                F.col("route").isin("extract", "oversized"))))
        finally:
            routed.unpersist()

    return _chain_sink(work_dir, body)


def stream_extract_routed(spark: SparkSession, input_dir: str,
                          work_dir: str, census_dir: str,
                          checkpoint_dir: str) -> Any:
    """Incremental extraction behind the pre-extraction router, with
    the per-batch route census written beside the extraction output
    chain. Note the routing runs INSIDE foreachBatch so the census and
    the kept-set are computed from the same epoch's rows under one
    persist."""
    return _drain(read_pages_stream(spark, input_dir),
                  router_sink(work_dir, census_dir), checkpoint_dir)


def _stream_sketch(spark: SparkSession, input_dir: str, store_dir: str,
                   checkpoint_dir: str,
                   frame_of: Callable[[DataFrame], DataFrame]) -> Any:
    """The sink of the three streaming sketch stores: each micro-batch
    extracts its pages and writes ``frame_of`` its error-free rows
    under ``batch=<id>`` with overwrite (exactly-once by replacement:
    crash re-delivery rewrites the partition with identical
    content)."""
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        extracted = extract_pages(batch_df)
        ok = extracted.filter(F.col("error").isNull()
                              & F.col("text").isNotNull())
        _write_batch(frame_of(ok), store_dir, "batch", batch_id)

    return _drain(read_pages_stream(spark, input_dir), sink, checkpoint_dir)


def stream_hll_sketch(spark: SparkSession, input_dir: str,
                      store_dir: str, checkpoint_dir: str) -> Any:
    """Streaming corpus-stat sketch sink: each micro-batch stores the
    256-register HLL frame of its token stream. The frame comes from
    the SAME builder as the batch sketch queries
    (plans/sketches.py::_register_frame), so a page contributes
    identical registers on both paths, and the consolidated store
    (hll_store_registers: the sketches.hll_fold register max across
    batch partitions) equals the from-scratch frame over everything
    ingested — the merge property docs_hll_snapshot_merge pins.
    Vocabulary cardinality over an accumulating crawl thus needs only
    ≤256 stored rows per batch, never a rescan of history."""
    from ocr_spark.plans.sketches import _register_frame

    return _stream_sketch(spark, input_dir, store_dir, checkpoint_dir,
                          _register_frame)


def hll_store_registers(spark: SparkSession, store_dir: str) -> DataFrame:
    """Consolidated HLL register frame over every batch partition the
    streaming sink has committed — a ≤256-row aggregate no matter how
    many batches accumulated."""
    from ocr_spark.plans.sketches import hll_fold

    return hll_fold(spark.read.parquet(store_dir))


def stream_cms_sketch(spark: SparkSession, input_dir: str,
                      store_dir: str, checkpoint_dir: str) -> Any:
    """Streaming count-min sink — the counter-ADD twin of
    stream_hll_sketch: each micro-batch stores the depth×256 CMS
    counter frame of its token stream, from the SAME builder as the
    batch sketch queries (plans/sketches.py::_cms_frame), so the
    consolidated store (cms_store_counters: the sketches.cms_fold
    counter sum across batch partitions) equals the from-scratch frame
    over everything ingested — the counter-add algebra
    docs_cms_snapshot_merge pins. Heavy-hitter frequency estimates
    over an accumulating crawl thus need only ≤ depth·256 stored rows
    per batch, never a rescan of history."""
    from ocr_spark.plans.sketches import _cms_frame, _tok_col

    return _stream_sketch(spark, input_dir, store_dir, checkpoint_dir,
                          lambda ok: _cms_frame(ok.select(_tok_col())))


def cms_store_counters(spark: SparkSession, store_dir: str) -> DataFrame:
    """Consolidated CMS counter frame over every batch partition the
    streaming sink has committed — a ≤ depth·256-row aggregate
    regardless of batch count."""
    from ocr_spark.plans.sketches import cms_fold

    return cms_fold(spark.read.parquet(store_dir))


def stream_kmv_sketch(spark: SparkSession, input_dir: str,
                      store_dir: str, checkpoint_dir: str) -> Any:
    """Streaming KMV sink — completes the streaming sketch trio
    (register-MAX HLL, counter-ADD CMS, bottom-k KMV): each
    micro-batch stores the k smallest distinct token hashes of its
    stream, from the SAME builder as the batch queries
    (plans/sketches.py::_kmv_frame). Bottom-k is a semilattice
    combine: the global k smallest hashes are each inside their own
    batch's k smallest, so the consolidated store (kmv_store_frame:
    the sketches.kmv_fold bottom-k of the union) equals the
    from-scratch frame over everything ingested — the algebra
    docs_kmv_distinct pins batch-side. Distinct-vocabulary estimates
    over an accumulating crawl thus need only ≤k stored rows per
    batch."""
    from ocr_spark.plans.sketches import KMV_K, _kmv_frame, _tok_col

    return _stream_sketch(spark, input_dir, store_dir, checkpoint_dir,
                          lambda ok: _kmv_frame(ok.select(_tok_col()),
                                                KMV_K))


def kmv_store_frame(spark: SparkSession, store_dir: str) -> DataFrame:
    """Consolidated KMV frame over every batch partition the streaming
    sink has committed — ≤ k·batches rows in, ≤ k rows out."""
    from ocr_spark.plans.sketches import kmv_fold

    return kmv_fold(spark.read.parquet(store_dir))


def compact_near_dup_store(spark: SparkSession, sigstore_dir: str,
                           keep_last: int = 0) -> dict:
    """Collapse the signature store's per-batch partitions into one
    consolidated ``batch=-1`` partition — the small-files maintenance
    a per-micro-batch append pattern needs at scale (one parquet
    footer per batch per core adds up at 10^5 batches; the probe's
    scan cost follows file count, not byte count).

    Crash-safe by idempotence, not locking: no signature leaves the
    visible store before a visible copy of it exists.
      1. The merged rows are written to the hidden ``_compact_tmp``,
         which Spark's listing skips and the next run overwrites.
      2. It is renamed (atomically) to a fresh consolidated id below
         every existing one: the store now holds the merged signatures
         twice, which the probe tolerates (candidate pairs are
         ``distinct``-ed and verdicts are per-pair).
      3. The old consolidated and merged batch dirs are removed; a
         crash leaves duplicates only.
      4. The new partition is renamed to ``batch=-1``.
    Every negative id is a consolidated partition and the merge keeps
    one row per distinct (url, minvec), so the next run folds whatever
    a crash left behind into one copy of each. ``keep_last`` leaves the
    N highest batch ids unconsolidated so an in-flight replaying
    batch's partition is never touched."""
    import shutil

    if not os.path.isdir(sigstore_dir):
        return {"compacted_batches": 0, "rows": 0}
    ids = sorted(int(d.split("=", 1)[1]) for d in os.listdir(sigstore_dir)
                 if d.startswith("batch=")
                 and d.split("=", 1)[1].lstrip("-").isdigit())
    consolidated = [b for b in ids if b < 0]
    fresh = [b for b in ids if b >= 0]
    to_merge = fresh[:len(fresh) - keep_last] if keep_last else fresh
    if not to_merge and not consolidated:
        return {"compacted_batches": 0, "rows": 0}

    def part(b: int) -> str:
        return os.path.join(sigstore_dir, f"batch={b}")

    store = (spark.read.parquet(sigstore_dir)
             .filter(F.col("batch").isin(consolidated + to_merge))
             .select("url", "minvec"))
    tmp = os.path.join(sigstore_dir, "_compact_tmp")
    store.distinct().coalesce(max(1, store.rdd.getNumPartitions() // 8)) \
         .write.mode("overwrite").parquet(tmp)
    new = min(consolidated, default=0) - 1
    os.rename(tmp, part(new))
    rows = spark.read.parquet(part(new)).count()
    for b in consolidated + to_merge:
        shutil.rmtree(part(b))
    if new != -1:
        os.rename(part(new), part(-1))
    return {"compacted_batches": len(to_merge), "rows": rows}


NEAR_DUP_STATE_SCHEMA = StructType([
    StructField("urls", StringType()),   # '\x1f'-joined accepted urls
    StructField("sigs", StringType()),   # '\x1e'-joined '|'-joined sigs
])

NEAR_DUP_OUT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("band", LongType()),
    StructField("bucket", StringType()),
    StructField("best_est", StringType()),     # 4-dp decimal string
    StructField("matched_url", StringType()),
    StructField("is_dup", StringType()),       # 'true'/'false'
])


def _near_dup_state_fn(bucket_cap: int, threshold: float):
    """Per-(band, bucket) stateful comparator: state holds the MinHash
    signatures of every url ACCEPTED into this bucket so far (capped at
    ``bucket_cap`` — the same O(n²)/state-size guard as the batch
    LSH_BUCKET_CAP, and the same recall trade: a hot bucket stops
    admitting comparators once full). Batch rows process in url order
    for determinism; a row is a dup when its signature-overlap estimate
    (dataops.sig_overlap_py) against any stored signature clears
    ``threshold``."""
    from ocr_spark.plans.dataops import sig_overlap_py

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        band, bucket = key
        if state.exists:
            urls_s, sigs_s = state.get
            urls = urls_s.split("\x1f") if urls_s else []
            sigs = [[int(x) for x in s.split("|")]
                    for s in sigs_s.split("\x1e")] if sigs_s else []
        else:
            urls, sigs = [], []
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values("url", kind="mergesort")
        out = []
        for _, r in rows.iterrows():
            vec = list(r["minvec"])
            best, match = 0.0, None
            for u, s in zip(urls, sigs):
                est = sig_overlap_py(vec, s)
                if est > best:
                    best, match = est, u
            dup = best >= threshold
            if not dup and len(urls) < bucket_cap:
                urls.append(r["url"])
                sigs.append(vec)
            out.append((r["url"], band, bucket, f"{best:.4f}",
                        match, "true" if dup else "false"))
        state.update(("\x1f".join(urls),
                      "\x1e".join("|".join(str(x) for x in s)
                                  for s in sigs)))
        yield pd.DataFrame(out, columns=[
            "url", "band", "bucket", "best_est", "matched_url", "is_dup"])
    return fn


def stream_near_dup_state(spark: SparkSession, input_dir: str,
                          output_dir: str, checkpoint_dir: str) -> Any:
    """Streaming near-dup dedup with the signature store IN THE STATE
    STORE — the sub-batch-latency variant of stream_extract_near_dup:
    instead of re-probing an external parquet signature table every
    micro-batch (a scan whose cost grows with everything accepted so
    far), each LSH (band, bucket) keeps its accepted signatures as
    keyed state via applyInPandasWithState, so a batch's probe cost is
    exactly its own rows × their buckets' residents, independent of
    corpus age. Run it under the RocksDB state-store provider (see
    test_stream_dedup_under_rocksdb_state_store) and state lives on
    executor-local disk — memory-bounded at crawl scale.

    Emits one verdict row per (url, band); a url is a near-dup iff ANY
    of its bands flags (consumers aggregate max(best_est) — the same
    OR-amplification semantics as the batch lsh_pairs path). State per
    bucket is capped at LSH_BUCKET_CAP signatures — simultaneously the
    O(n²) comparator guard and the state-size bound; MINHASH_K longs
    per signature ≈ 200 bytes, so worst-case state per bucket ~10 KB.

    Exactly-once: each micro-batch's verdicts are written under
    ``batch_id=<id>`` with overwrite. A re-delivered epoch replays
    against the checkpointed state version, yields identical verdicts,
    and replaces its own directory instead of appending a second
    copy."""
    from ocr_spark.plans.dataops import (
        LSH_BUCKET_CAP, NEAR_DUP_JACCARD, lsh_bands_frame,
        minhash_sigs_frame,
    )

    pages = read_pages_stream(spark, input_dir)
    extracted = extract_pages(pages)
    ok = extracted.filter(
        F.col("error").isNull() & F.col("text").isNotNull()
        & (F.col("text") != ""))
    sigs = minhash_sigs_frame(ok, key="url", text_col="text")
    bands = lsh_bands_frame(sigs, key="url", carry=("minvec",))
    verdicts = bands.groupBy("band", "bucket").applyInPandasWithState(
        _near_dup_state_fn(LSH_BUCKET_CAP, NEAR_DUP_JACCARD),
        outputStructType=NEAR_DUP_OUT_SCHEMA,
        stateStructType=NEAR_DUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch(batch_df, output_dir, "batch_id", batch_id)

    return _drain(verdicts, sink, checkpoint_dir)
