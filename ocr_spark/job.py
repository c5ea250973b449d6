"""End-to-end extraction job: Iceberg-shim scan → salted mapInArrow
extraction → snapshot write → per-wave commit record in the manifest.

Execution model (SURVEY.md §3.4): one Catalyst-planned job per commit wave —

    input snapshot scan (url, html only — column pruning)
      → [bucket filter: this wave's bucket group — partition-level skip]
      → salted repartition                    [the ONE shuffle]
      → mapInArrow(extract)                   [Arrow boundary]
      → snapshot write, one file per task     [shuffle-free]
      → commit record: one groupBy(bucket) over the staged rows

The commit unit is (input snapshot, bucket group): a wave. A wave's
output manifest is its commit record (input snapshot, bucket group,
per-bucket counters) and the shim pointer swap is its only commit point;
the checkpoint / lineage / metrics tables are exported from the record
after the swap. Resume state is one fold over the published output
chain's manifests, and the units it leaves are all a run does — so a
first run, an increment after an append and a resume after a crash are
one job, and none reprocesses a committed bucket. A streamed
micro-batch is a unit of the same chain, committed by the same step
(``commit_unit``). This is the cluster-scale version of the reference
service's processed-files dedup sets (service/api/main.py:21-48).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ocr_spark.operators import bookkeeping
from ocr_spark.operators.bookkeeping import (
    commit_bucket_bookkeeping, export_wave_tables, write_parquet_file,
)
from ocr_spark.operators.extraction import (
    DEFAULT_BIG_THRESHOLD, DEFAULT_BUCKETS, EXTRACT_RESULT_SCHEMA,
    run_extraction, url_bucket,
)
from ocr_spark.sources import iceberg_shim as shim


def output_root(work_dir: str) -> str:
    return os.path.join(work_dir, "extracted")


# meta-robots noindex, matched against raw page bytes (same directive
# surface as plans/webops.py::pages_robots_filter — kept as a plain
# pattern here so the job layer does not import the query plans)
_ROBOTS_NOINDEX = r'name="robots" content="[^"]*noindex'


def _roll_forward_orphans(work_dir: str, manifests: list[dict]) -> int:
    """Crash repair for the publish→export window: a published wave
    whose table files are missing gets them written from its manifest
    (path checks, no Spark job, no data scan). Returns the number of
    waves repaired. A wave staged but never published needs nothing —
    it is unreachable garbage and its buckets simply re-run."""
    return sum(1 for m in manifests if "input_snapshot" in m
               and export_wave_tables(work_dir, m))


def _check_n_buckets(manifests: list[dict], n_buckets: int) -> None:
    """Refuse to resume under a different bucket count. Commit records
    name buckets by number, and a bucket number means a different url
    set under another modulus: a 32-bucket resume of a partial 64-bucket
    run would treat docs with ``h mod 64`` in 32..47 as done and never
    extract them. Every wave manifest (and a compaction's) records the
    value, so the CURRENT output snapshot carries it."""
    recorded = manifests[-1].get("n_buckets") if manifests else None
    if recorded is not None and recorded != n_buckets:
        raise ValueError(
            f"n_buckets={n_buckets} does not match n_buckets={recorded} "
            f"recorded by the committed output; resume with "
            f"n_buckets={recorded}")


def _resume_state(work_dir: str, n_buckets: int
                  ) -> tuple[dict[str, set[int]], int]:
    """Job-start state from ONE walk of the output chain (each manifest
    read once): repair missing table exports, check ``n_buckets``, fold
    the committed buckets per input snapshot. Returns (done, repaired)."""
    manifests = shim.chain_manifests(output_root(work_dir))
    repaired = _roll_forward_orphans(work_dir, manifests)
    _check_n_buckets(manifests, n_buckets)
    return bookkeeping.completed_buckets_by_snapshot(manifests), repaired


def _commit_units(inputs: list[dict], done_by_sid: dict[str, set[int]],
                  n_buckets: int, waves: int) -> list[tuple[dict, list[int]]]:
    """The work the resume fold leaves: (input manifest, bucket group)
    pairs, oldest snapshot first. Groups are sized from ``n_buckets``,
    not from what is left, so a resumed wave is never wider than a
    fresh one; a snapshot with no bucket left yields no unit."""
    size = max(1, (n_buckets + waves - 1) // waves)
    units = []
    for m in inputs:
        done = done_by_sid.get(m["snapshot_id"], set())
        todo = [b for b in range(n_buckets) if b not in done]
        units += [(m, todo[i:i + size]) for i in range(0, len(todo), size)]
    return units


def _snapshot_pages(spark: SparkSession, m: dict,
                    respect_robots: bool) -> DataFrame:
    """One input snapshot's pages as its waves read them."""
    from ocr_spark.sources import PAGES_SCHEMA

    pages = spark.read.schema(PAGES_SCHEMA).parquet(m["data_dir"])
    if respect_robots:
        pages = pages.filter(
            ~F.col("html").cast("string").rlike(_ROBOTS_NOINDEX))
    return pages


def commit_unit(spark: SparkSession, rows: DataFrame, work_dir: str,
                out_sid: str, *, input_sid: str, input_files: list[str],
                run_id: str, buckets: list[int], n_buckets: int,
                big_threshold: int, skew_salt: int) -> dict:
    """One commit unit into ``work_dir``'s output chain: stage ``rows``
    as snapshot ``out_sid``, write the commit record from the staged
    rows into its manifest, publish (the commit point), then export the
    record's table rows. A crash before the swap leaves garbage whose
    unit re-runs; one after it is repaired by the next ``_resume_state``.
    Called per batch wave and per streamed micro-batch (streaming/
    ingest.py). Returns the published manifest."""
    root = output_root(work_dir)
    shim.prepare_snapshot(rows, root, snapshot_id=out_sid)
    record = commit_bucket_bookkeeping(
        shim.read_snapshot(spark, root, out_sid,
                           schema=EXTRACT_RESULT_SCHEMA),
        input_sid=input_sid, input_files=input_files, run_id=run_id,
        buckets=buckets, n_buckets=n_buckets,
        big_threshold=big_threshold, skew_salt=skew_salt)
    manifest = shim.amend_manifest(root, out_sid, record)
    shim.publish_snapshot(root, out_sid)
    export_wave_tables(work_dir, manifest)
    return manifest


def run_extraction_job(spark: SparkSession, input_table_root: str,
                       work_dir: str, partitions: int = 128,
                       big_partitions: int = 8,
                       big_threshold: int = DEFAULT_BIG_THRESHOLD,
                       n_buckets: int = DEFAULT_BUCKETS,
                       waves: int = 4,
                       respect_robots: bool = False) -> dict:
    """Run (or resume) extraction of the input table's full logical
    content at CURRENT: every snapshot of the chain, each keyed on its
    own sid. An increment is the same call — the resume fold over the
    output chain leaves only the (input snapshot, bucket group) commit
    units not yet committed, so a first run extracts the whole chain, a
    rerun after an append extracts the appended snapshot, a rerun after
    a crash resumes the crashed snapshot's remaining buckets, and a
    rerun over a fully committed chain runs no Spark job. A snapshot
    with no unit left is never read, filtered or counted.

    Each unit is one wave, committed by ``commit_unit`` (stage, commit
    record, publish, table export). One run_id is shared by every wave
    of the run. Streamed micro-batches commit into the same chain
    through the same step (streaming/ingest.py); until publish is a
    compare-and-swap, run one writer per work dir at a time.

    ``respect_robots=True`` drops pages whose meta-robots directive
    contains ``noindex`` BEFORE the Arrow boundary (a narrow JVM regexp
    filter fused into the scan stage) — the crawl-politeness gate a
    production pipeline applies at ingest so excluded pages never cost
    kernel CPU. Default off: the driver-contract corpora are extracted
    in full, and the robots signal stays queryable via
    plans/webops.py::pages_robots_filter.

    Returns a summary dict: output snapshot ids, ``buckets_skipped``
    (committed buckets over the whole input chain), ``buckets_processed``
    and ``docs`` of this run, and ``snapshots_processed`` (input
    snapshots with work this run).
    """
    inputs = shim.chain_manifests(input_table_root)
    if not inputs:
        raise FileNotFoundError(f"no input snapshot at {input_table_root}")
    done_by_sid, repaired = _resume_state(work_dir, n_buckets)
    units = _commit_units(inputs, done_by_sid, n_buckets, waves)
    processed = sum(len(group) for _m, group in units)
    run_id = uuid.uuid4().hex[:12]
    summary: dict = {
        "run_id": run_id, "input_snapshot": inputs[-1]["snapshot_id"],
        "output_snapshots": [],
        "buckets_skipped": len(inputs) * n_buckets - processed,
        "buckets_processed": processed, "docs": 0,
        "rolled_forward": repaired,
        "snapshots_processed": len({m["snapshot_id"] for m, _g in units})}
    if respect_robots:
        summary["respect_robots"] = True

    for w, (m, group) in enumerate(units):
        sid = m["snapshot_id"]
        if w == 0 or units[w - 1][0] is not m:
            pages = _snapshot_pages(spark, m, respect_robots)
        extracted = run_extraction(
            pages.filter(url_bucket(n_buckets).isin(group)),
            partitions=partitions, big_partitions=big_partitions,
            big_threshold=big_threshold, n_buckets=n_buckets)
        manifest = commit_unit(
            spark, extracted, work_dir, f"{sid[:8]}-{run_id}-w{w}",
            input_sid=sid, input_files=[m["data_dir"]], run_id=run_id,
            buckets=group, n_buckets=n_buckets,
            big_threshold=big_threshold, skew_salt=big_partitions)
        summary["output_snapshots"].append(manifest["snapshot_id"])
        summary["docs"] += sum(manifest["bucket_stats"]["docs"])
    return summary


# every run resumes from the output chain, so an increment is a full run
run_incremental_extraction_job = run_extraction_job


def compact_snapshots(spark: SparkSession, work_dir: str) -> dict:
    """Rewrite the whole output history as ONE snapshot (small-file /
    manifest compaction). After thousands of incremental commits the
    snapshot chain itself becomes metadata overhead; compaction reads
    the union (one multi-path scan), stages it as a fresh-chain snapshot
    whose manifest records ``compacted_from`` and ``completed`` (the
    folded resume state of every absorbed wave), and publishes
    atomically.

    Crash-safe: a crash before publish leaves the old chain CURRENT and
    the staged compaction unreachable (rerun simply re-compacts). Table
    exports are repaired FIRST: a wave published just before a crash may
    still lack its table rows, and its manifest leaves the chain here,
    so afterwards nothing could write them."""
    root = output_root(work_dir)
    manifests = shim.chain_manifests(root)
    _roll_forward_orphans(work_dir, manifests)
    if len(manifests) <= 1:
        return {"compacted": 0,
                "snapshot": manifests[0]["snapshot_id"] if manifests
                else None}
    absorbed = []
    for m in manifests:
        absorbed.append(m["snapshot_id"])
        absorbed.extend(m.get("compacted_from") or [])
    completed = bookkeeping.completed_buckets_by_snapshot(manifests)
    # each bucket's rows go to one task, so each bucket sits in exactly
    # one file (a task may hold several buckets)
    df = _scan_extracted(spark, work_dir, manifests).repartition("bucket")
    new_sid = shim.prepare_snapshot(
        df, root, snapshot_id=f"compact-{uuid.uuid4().hex[:12]}",
        parent_id=None, extra={
            "compacted_from": sorted(set(absorbed)),
            "n_buckets": manifests[-1].get("n_buckets"),
            "completed": {sid: sorted(b) for sid, b in completed.items()}})
    shim.publish_snapshot(root, new_sid)
    return {"compacted": len(manifests), "snapshot": new_sid}


def curation_root(work_dir: str) -> str:
    return os.path.join(work_dir, "curated")


def run_curation_job(spark: SparkSession, work_dir: str, *,
                     shard_token_budget: int | None = None,
                     dedup: str = "para",
                     neardup: bool = False,
                     line_corrections: bool = False) -> dict:
    """Corpus-wide curation stage over the committed extraction output:
    C4-style corpus dedup → quality + line-format + repetition filters →
    keep/drop verdict with drop reason → token-budget shard packing of the
    kept set → ONE published snapshot + a metrics row.

    ``neardup=True`` prepends a DOCUMENT-level near-dup collapse
    (MinHash-LSH + signature-overlap verify + connected components,
    keep-the-longest keeper) before the content-level pass — the
    re-crawl/mirror case exact url-keyed dedup cannot see.

    ``line_corrections=True`` applies the RefinedWeb line-wise edit
    rules BEFORE dedup (plans/webops.py::line_corrections_frame — the
    same kernel the oracle-checked pages_line_corrections query pins):
    bullet / teaser-ellipsis / mostly-numeric lines are stripped and
    the text reassembled; documents losing more than
    LC_MAX_REMOVED_FRAC of their characters are dropped outright.
    Editing before dedup means the dedup keys see CLEANED text (two
    pages differing only in boilerplate lines dedup as the same
    content — the reason RefinedWeb orders it this way).

    ``dedup`` picks the corpus-dedup granularity: ``"para"`` (default)
    removes repeated paragraphs (the common line/paragraph-hash form);
    ``"span"`` applies C4's LITERAL three-sentence-span rule
    (plans/webops.py::span_dedup_frame); ``"substr"`` applies Lee et
    al. 2022's exact-substring removal (every duplicated K-token
    window keeps only its global first occurrence, case-preserving —
    plans/webops.py::substring_dedup_frame). In span/substr mode the
    n_paras / n_kept columns count SENTENCES / TOKENS respectively —
    same schema, different unit, recorded in the snapshot manifest.

    Deliberately NOT wave/bucket-resumable: paragraph dedup and
    repetition are cross-bucket GLOBAL operators (the first occurrence
    of a paragraph may be in any bucket), so partial commits could
    change which copy survives. The input is immutable committed
    extraction output, so a crashed run simply reruns deterministically;
    the stage commits atomically through the same two-phase
    prepare/publish as the extraction waves.

    Each keep/drop decision IS the oracle-checked kernel, not a copy:
    paragraph dedup is plans/webops.py::para_dedup_frame (the
    pages_para_dedup query), the quality gate dataops.gopher_gate_cols +
    gopher_keep (docs_gopher_filters, the streaming gate), the line gate
    webops.gopher_line_cols + gopher_line_keep (docs_gopher_line_filters)
    and repetition webops.dup_2gram_cols + dup_2gram_keep
    (docs_repetition_metrics' rounded 2-gram rule) — so the job and the
    queries agree on every row, rounding edges included. The queries are
    the unit-verifiable form, this job is the pipeline form. Packing is
    plans/curation.py::token_shard_no over its packing_window (the
    docs_token_shards kernel, here per url-hash stratum; the budget
    defaults to its SHARD_TOKEN_BUDGET), and the shard-opening flags of
    the metrics row read the same window.

    Scale shape (default stages): ONE scan of the extraction output, three
    exchanges (md5(para), url, stratum), no join, no interpreted higher-order
    function (every per-row decision is code-generated), and a metrics row
    observed during the snapshot write instead of read back after publish."""
    from ocr_spark.plans.curation import (
        SHARD_TOKEN_BUDGET, packing_window, token_prefix, token_shard_no)
    from ocr_spark.plans.dataops import (
        _tokens, gopher_gate_cols, gopher_keep)
    from ocr_spark.plans.webops import (
        dup_2gram_cols, dup_2gram_keep, gopher_line_cols, gopher_line_keep)
    from pyspark.sql import Observation, Window

    if dedup not in ("para", "span", "substr"):
        raise ValueError(
            f"dedup must be 'para', 'span' or 'substr', got {dedup!r}")
    budget = (SHARD_TOKEN_BUDGET if shard_token_budget is None
              else shard_token_budget)
    run_id = uuid.uuid4().hex[:12]
    # one walk of the output chain feeds both the lineage and the scan
    manifests = shim.chain_manifests(output_root(work_dir))
    input_sids = [m["snapshot_id"] for m in manifests]
    docs = (_scan_extracted(spark, work_dir, manifests)
            .filter(F.col("error").isNull() & F.col("text").isNotNull()
                    & (F.col("text") != ""))
            .select("url", "text"))

    # ---- stage 0 (optional): DOCUMENT-level near-dup dedup — the
    # re-crawl/mirror collapse that runs before any content-level
    # dedup: MinHash-LSH candidates (bucket-capped) → signature-overlap
    # Jaccard estimate (the no-gram-recompute production verifier) →
    # connected components → keep the LONGEST member per cluster
    # (Dolma-style; ties to the lexicographically smallest url). Node
    # ids for label propagation are 60-bit md5 prefixes of the url
    # (the convergence test sums labels, so ids must be numeric).
    n_neardup_dropped = 0
    if neardup:
        from ocr_spark.plans.dataops import (
            NEAR_DUP_JACCARD, lsh_pairs_frame, minhash_sigs_frame,
            near_dup_clusters)
        nid = F.conv(F.substring(F.md5("url"), 1, 15), 16, 10) \
            .cast("long")
        ids = docs.select("url", nid.alias("nid"))
        sigs = minhash_sigs_frame(docs, key="url", text_col="text")
        verified = (lsh_pairs_frame(sigs, key="url")
                    .filter(F.col("jaccard_est") >= NEAR_DUP_JACCARD))
        pairs = (verified
                 .join(ids.select(F.col("url").alias("key_a"),
                                  F.col("nid").alias("doc_a")), "key_a")
                 .join(ids.select(F.col("url").alias("key_b"),
                                  F.col("nid").alias("doc_b")), "key_b")
                 .select("doc_a", "doc_b"))
        clusters = near_dup_clusters(pairs, spark=spark) \
            .select(F.col("doc_id").alias("nid"), "cluster_id")
        members = (docs.select("url", F.length("text").alias("nch"))
                   .join(ids, "url").join(clusters, "nid"))
        wk = Window.partitionBy("cluster_id").orderBy(
            F.desc("nch"), F.asc("url"))
        losers = (members.withColumn("rn", F.row_number().over(wk))
                  .filter(F.col("rn") > 1).select("url")
                  .localCheckpoint())
        n_neardup_dropped = losers.count()
        docs = docs.join(losers, "url", "left_anti")

    # ---- stage 0.5 (optional): RefinedWeb line-wise edit rules over
    # the extracted text, BEFORE dedup so dedup keys see cleaned text;
    # narrow per-row array ops + one count of over-corrected docs
    n_linefix_dropped = 0
    n_lines_removed = 0
    if line_corrections:
        from ocr_spark.plans.webops import line_corrections_frame
        lc = line_corrections_frame(docs, key="url").localCheckpoint()
        lc_stats = lc.agg(
            F.sum("n_removed").alias("nr"),
            F.sum((~F.col("keep_line_corrected")).cast("long")).alias("nd")
        ).collect()[0]
        n_lines_removed = int(lc_stats.nr or 0)
        n_linefix_dropped = int(lc_stats.nd or 0)
        docs = (lc.filter("keep_line_corrected")
                .select("url", F.col("text_clean").alias("text")))

    # ---- stage 1: corpus-wide dedup (global first occurrence)
    if dedup == "span":
        from ocr_spark.plans.webops import span_dedup_frame
        sd = span_dedup_frame(docs)
        deduped = sd.select(
            "url",
            F.col("n_sents").alias("n_paras"),
            (F.col("n_sents") - F.col("n_removed")).alias("n_kept"),
            F.col("text_span_deduped").alias("text_deduped"))
    elif dedup == "substr":
        from ocr_spark.plans.webops import substring_dedup_frame
        sd = substring_dedup_frame(docs, key="url")
        deduped = sd.select(
            "url",
            F.col("n_tokens").alias("n_paras"),
            (F.col("n_tokens") - F.col("n_removed_tokens"))
            .alias("n_kept"),
            "text_deduped")
    else:
        from ocr_spark.plans.webops import para_dedup_frame
        deduped = para_dedup_frame(docs)

    # ---- stages 2-3: the Gopher quality gate, the Gopher line gate and
    # the 2-gram repetition gate over the DEDUPED text: one split per row,
    # each feature computed once, then the kernels' verdicts over them
    toks = F.col("toks")
    feats = {**gopher_gate_cols(toks), **dup_2gram_cols(toks),
             **gopher_line_cols(F.col("text_deduped"))}
    verdict = (deduped.withColumn("toks", _tokens("text_deduped"))
               .select("url", "text_deduped", "n_paras", "n_kept",
                       *(feats[c].alias(c) for c in (
                           "n_words", "dup_2gram_frac", "mean_word_len",
                           "alpha_frac", "distinct_stop_hits", "n_lines",
                           "bullet_line_frac", "ellipsis_line_frac")))
               .select("url", "text_deduped", "n_paras", "n_kept",
                       "n_words", "dup_2gram_frac",
                       gopher_keep().alias("quality_ok"),
                       gopher_line_keep().alias("line_ok"),
                       dup_2gram_keep().alias("repetition_ok"))
               .withColumn("keep", F.col("quality_ok")
                           & F.col("line_ok") & F.col("repetition_ok"))
               .withColumn("drop_reason",
                           F.when(~F.col("quality_ok"), "quality")
                           .when(~F.col("line_ok"), "line_format")
                           .when(~F.col("repetition_ok"), "repetition")))

    # ---- stage 4: token-budget shard packing of the kept set, windowed
    # per url-hash stratum (16 parallel streams; production packs per
    # output partition — same shape); dropped docs add 0 tokens
    stratum = F.substring(F.md5("url"), 1, 1)
    w_pack = packing_window(stratum, "url")
    kept_words = F.when(F.col("keep"), F.col("n_words"))
    shard_no = token_shard_no(kept_words.otherwise(0), w_pack, budget)
    # a kept doc opens a shard unless the kept doc before it in its stratum
    # (prefix - prev_words) sat in the same one: the flags sum to the shards
    prefix = token_prefix(kept_words.otherwise(0), w_pack)
    prev_words = F.last(kept_words, ignorenulls=True).over(w_pack)
    new_shard = F.col("keep") & ~shard_no.eqNullSafe(
        F.floor((prefix - prev_words) / budget))
    shard_id = F.when(F.col("keep"),
                      F.concat_ws("-", stratum, shard_no.cast("string")))
    out = verdict.select("*", shard_id.alias("shard_id"),
                         new_shard.alias("_new_shard"))

    # the metrics row is observed while the snapshot is written
    metrics = Observation(f"curation-{run_id}")
    sums = {"paras_total": F.col("n_paras"), "paras_kept": F.col("n_kept"),
            "docs_kept": F.col("keep").cast("long"),
            **{f"dropped_{r}": (F.col("drop_reason") == r).cast("long")
               for r in ("quality", "repetition", "line_format")},
            "shards": F.col("_new_shard").cast("long")}
    out = out.observe(metrics, F.count("*").alias("docs"),
                      *(F.sum(e).alias(k) for k, e in sums.items())) \
        .drop("_new_shard")
    out_sid = shim.prepare_snapshot(
        out, curation_root(work_dir), snapshot_id=f"cur-{run_id}",
        extra={"curated_from": input_sids, "dedup_mode": dedup,
               "neardup": neardup, "neardup_dropped": n_neardup_dropped,
               "line_corrections": line_corrections,
               "linefix_dropped": n_linefix_dropped,
               "lines_removed": n_lines_removed})
    shim.publish_snapshot(curation_root(work_dir), out_sid)

    counts = {k: int(v or 0) for k, v in metrics.get.items()}  # 0 rows: NULL
    write_parquet_file(
        os.path.join(work_dir, "curation_metrics", f"{out_sid}.parquet"),
        ", ".join(["run_id string", "snapshot string",
                   *(f"{k} bigint" for k in counts)]),
        {"run_id": [run_id], "snapshot": [out_sid],
         **{k: [v] for k, v in counts.items()}})

    return {"run_id": run_id, "snapshot": out_sid, "dedup": dedup,
            "neardup_dropped": n_neardup_dropped,
            "linefix_dropped": n_linefix_dropped,
            "lines_removed": n_lines_removed, "input_snapshots": input_sids,
            "paras_removed": counts["paras_total"] - counts["paras_kept"],
            **{k: v for k, v in counts.items()
               if k not in ("paras_total", "paras_kept")}}


def export_root(work_dir: str) -> str:
    return os.path.join(work_dir, "export")


def sampling_root(work_dir: str) -> str:
    return os.path.join(work_dir, "sampled")


def sft_root(work_dir: str) -> str:
    return os.path.join(work_dir, "sft")


# shard product → (table root, within-shard order keys, payload column)
_SHARD_PRODUCTS = {
    "export": (export_root, ("url",), "text_deduped"),
    "sampling": (sampling_root, ("url", "copy_idx"), "text_deduped"),
    "sft": (sft_root, ("url",), "rendered"),
}


def _resolve(root: str, snapshot: str | None = None) -> str:
    """``snapshot``, or else the CURRENT snapshot of ``root``."""
    sid = snapshot or shim.current_snapshot_id(root)
    if sid is None:
        raise FileNotFoundError(f"no snapshot under {root}")
    return sid


def _shard_manifest(spark: SparkSession, root: str, sid: str,
                    product: str) -> dict:
    """The per-shard manifest of ``product``'s snapshot ``sid``, digested
    from its data: the producer's call on the staged snapshot and the
    verifier's on the published one. Read with the schema recorded at
    staging, so a product with no row (no file) digests to no shard."""
    from pyspark.sql.types import StructType

    _, keys, payload = _SHARD_PRODUCTS[product]
    schema = shim.read_manifest(root, sid).get("schema")
    df = shim.read_snapshot(
        spark, root, sid,
        schema=StructType.fromJson(schema) if schema else None)
    return {r.shard_id: {"n_docs": r.n_docs, "n_tokens": int(r.n_tokens),
                         "content_digest": r.content_digest,
                         "min_url": r.min_url, "max_url": r.max_url}
            for r in shard_digest_rows(df, list(keys), payload).collect()}


def _commit_shards(spark: SparkSession, df: DataFrame, work_dir: str,
                   product: str, snapshot_id: str,
                   extra: dict) -> tuple[str, dict]:
    """The one commit of a shard product: stage ``df`` as a fresh chain,
    one file per shard, digest the STAGED rows with the verifier's own
    function into the staged manifest, then publish — the only commit
    point. Returns (snapshot id, shard manifest)."""
    root = _SHARD_PRODUCTS[product][0](work_dir)
    sid = shim.prepare_snapshot(
        df.repartition("shard_id"), root, partition_by=["shard_id"],
        snapshot_id=snapshot_id, parent_id=None,
        extra={**extra, "schema": df.schema.jsonValue()})
    shards = _shard_manifest(spark, root, sid, product)
    shim.amend_manifest(root, sid, {"shards": shards})
    shim.publish_snapshot(root, sid)
    return sid, shards


def verify_shards(spark: SparkSession, work_dir: str, product: str,
                  snapshot: str | None = None) -> dict:
    """Consumer-side verification of shard product ``product``: recompute
    every shard's manifest entry FROM THE PUBLISHED DATA with the
    producer's own function and diff it against the committed manifest.
    Returns {"snapshot", "shards_checked", "mismatches": {shard_id:
    reason}} — an empty mismatches dict is the integrity proof."""
    root = _SHARD_PRODUCTS[product][0](work_dir)
    sid = _resolve(root, snapshot)
    expected = shim.read_manifest(root, sid).get("shards") or {}
    actual = _shard_manifest(spark, root, sid, product)
    mismatches: dict = {}
    for shard in set(expected) | set(actual):
        if shard not in expected:
            mismatches[shard] = "not in manifest"
        elif shard not in actual:
            mismatches[shard] = "missing from data"
        elif expected[shard] != actual[shard]:
            mismatches[shard] = (f"manifest {expected[shard]}"
                                 f" != data {actual[shard]}")
    return {"snapshot": sid, "shards_checked": len(expected),
            "mismatches": mismatches}


def run_export_job(spark: SparkSession, work_dir: str, *,
                   snapshot: str | None = None) -> dict:
    """Training-data export stage — the pipeline's end product: the
    KEPT, shard-packed curation output written as one parquet dataset
    partitioned by shard_id, plus a per-shard manifest row (doc count,
    token sum, order-pinned content digest over the per-doc text
    digests in url order).

    The manifest is the reproducibility contract: re-exporting the
    same curated snapshot must reproduce every digest bit-for-bit on
    any cluster size (sort_array pins the order collect_list leaves
    unspecified), and a consumer can verify a downloaded shard against
    its manifest row without trusting the transport —
    ``verify_shards(spark, work_dir, "export")`` is exactly that check,
    run from the published data. The commit is ``_commit_shards``: the
    manifest is digested from the STAGED rows by the verifier's own
    function and rides INSIDE the snapshot manifest json (small: one
    entry per shard), so data + digests commit together or not at all.

    Scale shape: a partitionBy(shard_id) write fed by one repartition
    on the same key — each shard lands as one file, no small-files
    explosion — then one groupBy(shard_id) over the staged rows for the
    manifest (groups are token-budget-bounded by construction)."""
    run_id = uuid.uuid4().hex[:12]
    cur_root = curation_root(work_dir)
    sid = _resolve(cur_root, snapshot)
    kept = (shim.read_snapshot(spark, cur_root, sid)
            .filter(F.col("keep") & F.col("shard_id").isNotNull())
            .select("url", "text_deduped", "n_words", "shard_id"))
    out_sid, shard_manifest = _commit_shards(
        spark, kept, work_dir, "export", f"exp-{run_id}",
        {"exported_from": sid})
    return {"run_id": run_id, "snapshot": out_sid, "exported_from": sid,
            "shards": len(shard_manifest),
            "docs": sum(m["n_docs"] for m in shard_manifest.values()),
            "tokens": sum(m["n_tokens"] for m in shard_manifest.values())}


def shard_digest_rows(df: DataFrame, key_cols: list[str],
                      text_col: str = "text_deduped") -> DataFrame:
    """Per-shard manifest rows (n_docs, n_tokens, content_digest) —
    the ONE digest definition shared by the export, sampling, and SFT
    producers and by consumer-side verification, so a digest mismatch
    can only ever mean the data changed, never that two stages
    digested differently. ``key_cols`` pins the within-shard order
    and ``text_col`` names the payload column (per product: the
    _SHARD_PRODUCTS table). The digest is
    plans/curation.py::shard_content_digest, the shards_manifest kernel."""
    from ocr_spark.plans.curation import shard_content_digest

    return (df.withColumn("dg", F.md5(text_col))
            .groupBy("shard_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_words").alias("n_tokens"),
                 shard_content_digest(*key_cols).alias("content_digest"),
                 # zone map: the url key range this shard covers, so a
                 # consumer can prune shards from the manifest alone
                 # (prune_export_shards) without scanning any data
                 F.min("url").alias("min_url"),
                 F.max("url").alias("max_url")))


def prune_export_shards(work_dir: str, lo: str, hi: str, *,
                        snapshot: str | None = None) -> list:
    """Zone-map shard pruning — plan which export shards a url-range
    predicate ``lo <= url <= hi`` can possibly touch, FROM THE
    MANIFEST ALONE: no Spark job, no file listing, no data scan. A
    shard survives iff its [min_url, max_url] zone intersects the
    query range; everything else is provably empty for the predicate
    and is never read (the parquet row-group min/max idea lifted to
    the shard level, where it also skips whole-file network fetches).
    The returned ids feed a ``shard_id IN (...)`` filter, which Spark
    turns into partition pruning over the shard_id-partitioned layout
    — tests pin that the pruned read equals the full-scan filter
    row-for-row while touching strictly fewer shards."""
    root = export_root(work_dir)
    shards = shim.read_manifest(root, _resolve(root, snapshot)) \
        .get("shards") or {}
    return sorted(
        shard for shard, m in shards.items()
        if not (m["max_url"] < lo or m["min_url"] > hi))


def run_sft_job(spark: SparkSession, work_dir: str, *,
                examples_per_shard: int = 200,
                snapshot: str | None = None) -> dict:
    """SFT-export stage — the instruction-tuning end product beside
    run_export_job's pretraining shards: render every KEPT curated
    document into a chat-template example with its loss-mask span
    (the SAME kernel as the oracle-checked docs_sft_format, keyed by
    url — plans/curation.py::sft_format_frame, so the pipeline
    artifact and the correctness gate render identically by
    construction), shard the examples, and commit them atomically
    through ``_commit_shards``: the per-shard content-digest manifest
    over the RENDERED bytes (the artifact a trainer consumes and must
    be able to verify) is digested from the staged rows by the
    verifier's own function.

    Shard assignment is a deterministic md5-hash bucket over url with
    the bucket count sized from the example count (ceil(n / target)) —
    no global sort window, so assignment parallelizes at any corpus
    size and re-runs land every example in the same shard; per-shard
    counts are binomial around the target and the manifest records
    actuals. n_tokens in the manifest counts RESPONSE whitespace
    tokens (the loss-bearing tokens — what an SFT run budgets by).

    Scale shape: render is the kernel's zero-shuffle narrow map; one
    1-row count broadcast; one repartition on shard_id feeding the
    partitioned write; one groupBy(shard_id) over the staged rows for
    the manifest."""
    run_id = uuid.uuid4().hex[:12]
    from ocr_spark.plans.curation import sft_format_frame

    cur_root = curation_root(work_dir)
    sid = _resolve(cur_root, snapshot)
    kept = (shim.read_snapshot(spark, cur_root, sid)
            .filter(F.col("keep"))
            .select("url", F.col("text_deduped").alias("text")))
    rendered = sft_format_frame(kept, "url")
    n = rendered.count()
    n_shards = max(1, -(-n // examples_per_shard))
    resp_toks = F.size(F.split(F.trim("response"), r"\s+"))
    examples = rendered.select(
        "url", "rendered", "prompt_chars", "response_chars",
        "truncated", "loss_start", "loss_end",
        resp_toks.cast("long").alias("n_words"),
        F.format_string(
            "sft-%05d",
            (F.conv(F.substring(F.md5("url"), 1, 13), 16, 10)
             .cast("long") % n_shards).cast("int")).alias("shard_id"))
    out_sid, shard_manifest = _commit_shards(
        spark, examples, work_dir, "sft", f"sft-{run_id}",
        {"rendered_from": sid,
         "examples_per_shard_target": examples_per_shard})
    return {"run_id": run_id, "snapshot": out_sid,
            "rendered_from": sid, "shards": len(shard_manifest),
            "examples": n,
            "response_tokens": sum(m["n_tokens"]
                                   for m in shard_manifest.values())}


def index_root(work_dir: str) -> str:
    return os.path.join(work_dir, "ann_index")


def _postings_digest(postings: DataFrame) -> str:
    """Content digest of a posting table: md5 over its sorted
    ``vec_id:cell:codes`` strings. The build digests its staged postings
    with it and verify_index the published ones, so a mismatch can only
    mean the data changed."""
    return postings.agg(F.md5(F.concat_ws("|", F.sort_array(
        F.collect_list(F.concat_ws(":", "vec_id", "cell", "codes"))))
    ).alias("d")).collect()[0]["d"]


def run_index_job(spark: SparkSession, work_dir: str,
                  sf_dir: str) -> dict:
    """ANN index BUILD stage — the build/serve separation a 100 TB
    vector deployment actually runs: train the coarse quantizer once
    (the oracle-checked Lloyd loop of emb_kmeans_train), assign every
    corpus vector to its cell, PQ-encode it, and COMMIT the index —
    centroids + a posting table of (vec_id, cell, nrm, codes) — as an
    atomic snapshot whose manifest holds a content digest of the STAGED
    postings (``_postings_digest``, the verifier's own function) and
    the centroids snapshot they were assigned against. Queries then run
    against the committed index (``ivf_topk_from_index``) without
    re-deriving the quantizer, and only shortlist survivors gather
    their full vectors from the source table by vec_id.

    The posting row is the storage tier: cell id + norm + PQ code
    string per vector, NOT the vector itself — the float table stays
    wherever it lives and is touched only by the re-rank gather.

    Scale shape: the build is emb_kmeans_train's audited iterative
    shape plus one narrow encode map; the commit is one snapshot
    write partitioned by cell (probes prune to probed cells at read
    time — partition pruning is the IVF inverted list) and one
    aggregate over the staged postings for the digest."""
    from ocr_spark.plans.simsearch import (
        _kmeans, _norm, _pq_code_arr)

    run_id = uuid.uuid4().hex[:12]
    cent, assigned = _kmeans(spark, sf_dir)
    postings = assigned.select(
        "vec_id", "cell",
        F.round(_norm(F.col("v")), 6).alias("nrm"),
        F.array_join(_pq_code_arr(F.col("v")).cast("array<string>"), ",")
         .alias("codes"))
    cent_rows = (cent.select("cell", F.posexplode("cv")
                             .alias("pos", "cv_val")))
    root = index_root(work_dir)
    croot, proot = os.path.join(root, "centroids"), \
        os.path.join(root, "postings")
    csid = shim.prepare_snapshot(
        cent_rows.coalesce(1), croot,
        snapshot_id=f"idxc-{run_id}", extra={"indexed_from": sf_dir})
    shim.publish_snapshot(croot, csid)
    psid = shim.prepare_snapshot(
        postings.repartition("cell"), proot, partition_by=["cell"],
        snapshot_id=f"idxp-{run_id}",
        extra={"indexed_from": sf_dir, "centroids_snapshot": csid})
    digest = _postings_digest(shim.read_snapshot(spark, proot, psid))
    shim.amend_manifest(proot, psid, {"content_digest": digest})
    shim.publish_snapshot(proot, psid)
    return {"run_id": run_id, "centroids_snapshot": csid,
            "postings_snapshot": psid, "content_digest": digest}


def verify_index(spark: SparkSession, work_dir: str) -> dict:
    """Consumer-side index verification: recompute the posting-table
    digest from the published data and diff against the manifest."""
    root = os.path.join(index_root(work_dir), "postings")
    sid = _resolve(root)
    expected = shim.read_manifest(root, sid).get("content_digest")
    got = _postings_digest(shim.read_snapshot(spark, root, sid))
    return {"snapshot": sid, "ok": got == expected,
            "expected": expected, "actual": got}


def ivf_topk_from_index(spark: SparkSession, work_dir: str,
                        sf_dir: str) -> DataFrame:
    """SERVE path over the committed index: queries assign to their
    nearest committed centroid (broadcast K-row array — never
    retrained), probe = cell equi-join against the posting table
    (partition-pruned to probed cells), survivors gather full vectors
    from the SOURCE table by vec_id for the exact re-rank. Output
    contract is identical to the in-plan emb_ivf_trained_topk —
    pinned row-for-row in tests, which is the proof that build/serve
    separation loses nothing. Centroids are the snapshot the postings
    record: a rebuild stopped between its two publishes moves CURRENT."""
    from pyspark.sql.window import Window

    from ocr_spark.plans.simsearch import (
        IVF_TOPK, N_QUERIES, _dot, _km_argmin, _norm, _vecd, t as emb_t)

    root = index_root(work_dir)
    croot, proot = os.path.join(root, "centroids"), \
        os.path.join(root, "postings")
    psid = _resolve(proot)
    csid = _resolve(croot, shim.read_manifest(proot, psid)
                    .get("centroids_snapshot"))
    cent_rows = shim.read_snapshot(spark, croot, csid)
    postings = shim.read_snapshot(spark, proot, psid) \
        .select("vec_id", "cell")
    cent = cent_rows.groupBy("cell").agg(F.sort_array(F.collect_list(
        F.struct("pos", "cv_val")))["cv_val"].alias("cv"))
    centrow = cent.agg(F.sort_array(
        F.collect_list(F.struct("cell", "cv"))).alias("cents"))
    src = emb_t(spark, sf_dir).select("vec_id", _vecd().alias("v")) \
        .withColumn("nrm", _norm(F.col("v")))
    q = (src.filter(F.col("vec_id") < N_QUERIES)
         .crossJoin(F.broadcast(centrow))
         .select(F.col("vec_id").alias("q_id"),
                 F.col("v").alias("qv"), F.col("nrm").alias("qn"),
                 _km_argmin(F.col("v"), F.col("cents")).alias("q_cell")))
    cand = postings.join(F.broadcast(q),
                         (F.col("cell") == F.col("q_cell"))
                         & (F.col("vec_id") != F.col("q_id")))
    gathered = cand.join(src, "vec_id")
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    scored = gathered.select("q_id", "cell",
                             F.col("vec_id").alias("neighbor_id"),
                             F.round(cos, 6).alias("cos6"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos6"),
                                           F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= IVF_TOPK)
            .select("q_id", "cell", "neighbor_id",
                    F.round("cos6", 4).alias("cos_sim"), "rank"))


def verify_all(spark: SparkSession, work_dir: str) -> dict:
    """One consumer-side integrity call over every published product:
    ``verify_shards`` for each shard product (export, sampling, SFT —
    the function their producers digested the staged rows with), then
    the labeling batches. ``ok`` is True iff every present stage
    verifies clean; stages that never ran are reported absent."""
    from functools import partial

    out: dict = {"stages": {}, "ok": True}
    for name, fn in (*((p, partial(verify_shards, product=p))
                       for p in _SHARD_PRODUCTS),
                     ("labeling", verify_labeling_all)):
        try:
            res = fn(spark, work_dir)
        except FileNotFoundError:
            out["stages"][name] = {"present": False}
            continue
        res["present"] = True
        out["stages"][name] = res
        if res["mismatches"]:
            out["ok"] = False
    return out


def run_sampling_job(spark: SparkSession, work_dir: str, *,
                     shard_token_budget: int | None = None,
                     snapshot: str | None = None) -> dict:
    """Mixture-sampling stage between curation and the trainer — the
    pipeline form of the oracle-checked docs_mixture_realize /
    docs_training_set composition: language-ID the KEPT curated text
    (the production order — CCNet detects language downstream of
    extraction, using the SAME kernel as the oracle-checked
    docs_langid via plans/dataops.py::langid_hit_cols), realize the
    temperature mixture with plans/curation.py::mixture_realize_frame
    (the docs_mixture_realize kernel: floor(e) guaranteed copies plus a
    deterministic md5-hash-selected fractional copy per document),
    explode the copies, and RE-pack them into token-budget shards with
    plans/curation.py::token_shard_no ((url, copy_idx) in the pack key so
    two copies of one document land in independent shards; the budget
    defaults to SHARD_TOKEN_BUDGET). Committed atomically through
    ``_commit_shards`` with an export-style per-shard content-digest
    manifest, digested from the staged rows by the verifier's own
    function, so the sampled corpus is consumer-verifiable and
    bit-reproducible. The kept-doc count is taken before the commit
    point: no Spark job runs after the publish.

    Scale shape: langid + copy realization are narrow maps over the
    kept set; the mixture table is |langs| rows (broadcast); the only
    exchanges are the per-language token-total partial agg and the
    per-stratum packing window (16 parallel streams, same as the
    curation packer)."""
    from ocr_spark.plans.curation import (
        MIXTURE_PARAMS, SHARD_TOKEN_BUDGET, mixture_realize_frame,
        packing_window, token_shard_no)
    from ocr_spark.plans.dataops import (
        _tokens, langid_hit_cols, langid_pred_col)

    budget = (SHARD_TOKEN_BUDGET if shard_token_budget is None
              else shard_token_budget)
    run_id = uuid.uuid4().hex[:12]
    cur_root = curation_root(work_dir)
    sid = _resolve(cur_root, snapshot)
    kept = (shim.read_snapshot(spark, cur_root, sid)
            .filter(F.col("keep"))
            .select("url", "text_deduped", "n_words"))

    with_lang = kept.select(
        "url", "text_deduped", "n_words",
        *langid_hit_cols(_tokens("text_deduped"))
    ).withColumn("lang", langid_pred_col()) \
     .select("url", "text_deduped", "n_words", "lang")

    copies = (mixture_realize_frame(with_lang, "url", n_tokens="n_words")
              .filter(F.col("n_copies") > 0)
              .select("url", "lang", "text_deduped", "n_words",
                      F.explode(F.sequence(
                          F.lit(1), F.col("n_copies"))).alias("copy_idx")))

    stratum = F.substring(
        F.md5(F.concat("url", F.lit(":"), F.col("copy_idx").cast("string"))),
        1, 1)
    shard_no = token_shard_no(
        "n_words", packing_window("stratum", "url", "copy_idx"), budget)
    packed = (copies.withColumn("stratum", stratum)
              .withColumn("shard_id", F.concat_ws(
                  "-", "stratum", shard_no.cast("string"))))

    docs_in = kept.count()
    out_sid, shard_manifest = _commit_shards(
        spark, packed.select("url", "copy_idx", "lang", "text_deduped",
                             "n_words", "shard_id"),
        work_dir, "sampling", f"smp-{run_id}",
        {"sampled_from": sid, **MIXTURE_PARAMS})
    return {"run_id": run_id, "snapshot": out_sid, "sampled_from": sid,
            "kept_docs": docs_in,
            "sampled_rows": sum(m["n_docs"] for m in shard_manifest.values()),
            "shards": len(shard_manifest),
            "tokens": sum(m["n_tokens"] for m in shard_manifest.values())}


def read_extracted(spark: SparkSession, work_dir: str) -> DataFrame:
    """All committed extraction output, batch waves and streamed
    micro-batches alike. The union is exact: a unit is committed only by
    the pointer swap that publishes its data and never extracted again.
    A url captured by two units (a re-crawl) appears twice."""
    return _scan_extracted(
        spark, work_dir, shim.chain_manifests(output_root(work_dir)))


def _scan_extracted(spark: SparkSession, work_dir: str,
                    manifests: list[dict]) -> DataFrame:
    dirs = [m["data_dir"] for m in manifests]
    if not dirs:
        raise FileNotFoundError(f"no extraction output committed yet "
                                f"under {output_root(work_dir)}")
    # ONE multi-path scan of flat snapshot dirs (``bucket`` is a data
    # column): the plan stays a single scan node after thousands of
    # incremental commits, instead of a union chain that grows per
    # snapshot.
    return spark.read.schema(EXTRACT_RESULT_SCHEMA).parquet(*dirs)


class ValidationError(RuntimeError):
    """Raised by run_validation_job(gate=True) when a constraint fails."""


VALIDATION_MAX_ERROR_FRAC = 0.05


def validation_root(work_dir: str) -> str:
    return os.path.join(work_dir, "validation")


def row_checks() -> list[tuple[str, Column]]:
    """The validation suite's row predicates as one ordered table of
    (reason, violated): constraint_suite counts each, and the
    streaming dead-letter sink (streaming/ingest.py dlq_reason_col)
    tags a row with the FIRST that holds. The text and block checks
    apply to error-free rows only."""
    ok = F.col("error").isNull()
    return [
        ("url_missing", F.col("url").isNull() | (F.length("url") == 0)),
        ("extract_error", ~ok),
        ("empty_text",
         ok & (F.col("text").isNull() | (F.length("text") == 0))),
        ("no_blocks",
         ok & (F.col("n_blocks").isNull() | (F.col("n_blocks") <= 0))),
        ("bad_bytes_in",
         F.col("bytes_in").isNull() | (F.col("bytes_in") <= 0)),
    ]


def constraint_suite(out: DataFrame,
                     max_error_frac: float = VALIDATION_MAX_ERROR_FRAC,
                     ) -> list[tuple[str, int, int]]:
    """The Deequ-style shared-scan constraint suite over an extraction
    output frame: ONE aggregate pass, one driver row, returns
    [(constraint, checked, violations)]. Shared by the batch
    validation job below AND the streaming per-micro-batch gate
    (streaming/ingest.py validation_gate_sink), so a batch failing
    the streaming gate is EXACTLY a table the batch gate would block
    — one suite, two triggers. Its row predicates are ``row_checks``."""
    checks = row_checks()
    row = out.agg(
        F.count(F.lit(1)).alias("checked"),
        F.count_distinct(F.col("url")).alias("n_urls"),
        *[F.sum(bad.cast("long")).alias(reason) for reason, bad in checks],
    ).collect()[0]
    checked = row["checked"] or 0
    bad = {reason: row[reason] or 0 for reason, _ in checks}
    n_success = checked - bad["extract_error"]
    err_over = (bad["extract_error"]
                if bad["extract_error"] > max_error_frac * checked else 0)
    return [
        ("url_complete", checked, bad["url_missing"]),
        ("url_unique", checked, checked - (row["n_urls"] or 0)),
        ("text_present_on_success", n_success, bad["empty_text"]),
        ("blocks_positive_on_success", n_success, bad["no_blocks"]),
        ("bytes_in_positive", checked, bad["bad_bytes_in"]),
        ("error_rate_bounded", checked, err_over),
    ]


def run_validation_job(spark: SparkSession, work_dir: str, *,
                       max_error_frac: float = VALIDATION_MAX_ERROR_FRAC,
                       gate: bool = False) -> dict:
    """Deequ-style pre-promote validation gate over the committed
    extraction output (Schelter et al., VLDB 2018 — run the constraint
    suite BEFORE downstream stages consume a snapshot; the query-side
    twin over the driver's documents table is
    plans/curation.py::docs_quality_constraints).

    Constraints (each a completeness / uniqueness / consistency /
    rate predicate over the full committed table):

      * ``url_complete``              — url never null/empty
      * ``url_unique``                — the idempotency invariant: the
        two-phase bucket commit must make re-runs exact, so ANY
        duplicate url in the committed union is a pipeline bug
      * ``text_present_on_success``   — error-free rows carry text
      * ``blocks_positive_on_success``— error-free rows have ≥1 block
      * ``bytes_in_positive``         — input accounting sane
      * ``error_rate_bounded``        — failed-row fraction ≤
        ``max_error_frac`` (violations reported only past the bound)

    ALL constraints evaluate in ONE scan as conditional partial
    aggregates (the Deequ shared-scan design); the only driver-side
    data is the single aggregate row. The per-constraint report is
    committed under ``validation/run=<id>/`` so lineage keeps every
    gate decision; ``gate=True`` raises ValidationError on any failure
    — the mode a scheduled pipeline runs between extract and
    curate/export."""
    out = read_extracted(spark, work_dir)
    constraints = constraint_suite(out, max_error_frac)
    checked = constraints[0][1]  # url_complete checks every row
    run_id = uuid.uuid4().hex[:12]
    report = spark.createDataFrame(
        [(run_id, name, int(n), int(v), v == 0)
         for name, n, v in constraints],
        "run_id string, constraint string, checked long, "
        "violations long, passed boolean")
    dest = os.path.join(validation_root(work_dir), f"run={run_id}")
    report.coalesce(1).write.mode("overwrite").parquet(dest)
    failed = {name: int(v) for name, _n, v in constraints if v}
    result = {"run_id": run_id, "checked": int(checked),
              "passed": not failed, "failed": failed,
              "report_path": dest}
    if gate and failed:
        raise ValidationError(
            f"extraction output failed validation: {failed} "
            f"(report at {dest})")
    return result


def eval_root(work_dir: str) -> str:
    return os.path.join(work_dir, "eval_metrics")


def run_eval_job(spark: SparkSession, work_dir: str,
                 gold: DataFrame) -> dict:
    """Extraction-quality regression gate: score the committed
    extraction output against a gold-labeled eval set (url, text) with
    the token-multiset P/R/F1 kernel (plans/extract_queries.py::
    token_prf — the oracle-checked extract_eval_tokenf1 scoring), and
    append per-doc rows plus one run-level summary row to the job's
    eval metrics tables. Run after every extractor change: macro-F1 /
    min-F1 drops are the regression alarm the byte-identity goldens
    can't give you on pages whose gold is NOT a fixture.

    A gold url the extraction dropped or errored still gets a per-doc
    row (n_pred = 0, null precision/F1) and is counted in
    ``n_unextracted`` — silent extraction loss on the eval set is the
    failure mode this stage exists to surface.

    Scale shape: the eval set is small by construction (gold labels
    are hand-made), so its url list broadcasts to restrict the
    extraction scan, and the token-level full-outer join shuffles only
    eval-set token volume."""
    from ocr_spark.plans.extract_queries import token_prf

    run_id = uuid.uuid4().hex[:12]
    gold = gold.select("url", "text")
    pred = (read_extracted(spark, work_dir)
            .filter(F.col("error").isNull() & F.col("text").isNotNull())
            .select("url", "text")
            .join(F.broadcast(gold.select("url")), "url"))
    per_doc = token_prf(gold, pred).withColumn("run_id", F.lit(run_id))
    per_doc.coalesce(1).write.mode("append").parquet(
        os.path.join(eval_root(work_dir), "per_doc"))
    row = per_doc.agg(
        F.count("*").alias("n_gold"),
        F.count("token_f1").alias("n_scored"),
        F.sum((F.col("n_pred") == 0).cast("long")).alias("n_unextracted"),
        F.avg("token_f1").alias("macro_f1"),
        F.min("token_f1").alias("min_f1"),
        F.avg((F.col("token_recall") == 1.0).cast("double"))
         .alias("full_recall_frac"),
    ).collect()[0]
    summary = {"run_id": run_id, **row.asDict()}
    spark.createDataFrame([summary]).coalesce(1).write.mode(
        "append").parquet(os.path.join(eval_root(work_dir), "summary"))
    return summary


def stats_root(work_dir: str) -> str:
    return os.path.join(work_dir, "stats")


def _snapshot_texts(spark: SparkSession, data_dir: str) -> DataFrame:
    """Extracted text of ONE committed extraction snapshot's own rows
    (snapshot dirs are disjoint by the two-phase bucket commit, so
    per-snapshot sketch frames tile the corpus with no overlap)."""
    return (spark.read.schema(EXTRACT_RESULT_SCHEMA).parquet(data_dir)
            .filter(F.col("error").isNull() & F.col("text").isNotNull())
            .select("text"))


def _sketch_long_frame(texts: DataFrame) -> DataFrame:
    """(kind, k1, k2, v): the three mergeable sketch frames of a text
    slice in one long-form table — HLL registers (combine = max v),
    CMS counters (combine = sum v), KMV bottom-k hashes (combine =
    bottom-k of the k1 union). One schema so a stats snapshot is one
    dataset; each frame is bounded (≤256 / ≤1024 / ≤KMV_K rows)."""
    from ocr_spark.plans.sketches import (
        KMV_K, _cms_frame, _kmv_frame, _register_frame, _tok_col,
    )

    occ = texts.select(_tok_col())
    hll = _register_frame(texts).select(
        F.lit("hll").alias("kind"), F.col("reg").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("m_reg").cast("long").alias("v"))
    cms = _cms_frame(occ).select(
        F.lit("cms").alias("kind"), F.col("r").cast("string").alias("k1"),
        F.col("b").alias("k2"), F.col("counter").alias("v"))
    kmv = _kmv_frame(occ, KMV_K).select(
        F.lit("kmv").alias("kind"), F.col("h").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.lit(None).cast("long").alias("v"))
    return hll.unionByName(cms).unionByName(kmv)


def run_stats_job(spark: SparkSession, work_dir: str) -> dict:
    """Corpus-statistics stage: persist the mergeable sketch frames
    per EXTRACTION SNAPSHOT as committed stats snapshots — the
    write-path half of the sketch family (the query half lives in
    plans/sketches.py, where every combine algebra is oracle-pinned
    and property-tested). Each run covers exactly the extraction
    snapshots no stats snapshot records yet (lineage: ``stats_for``
    in the manifest), so the stage is incremental and idempotent:
    corpus-stat reporting over a growing crawl folds the ≤~1300-row
    frames (combined_sketches below) and never rescans history —
    the delta-job shape docs_{hll,cms}_snapshot_merge pin.

    Scale shape per new snapshot: one narrow tokenize feeding three
    bounded aggregates (each executor emits ≤256 / ≤1024 / ≤KMV_K
    partial rows) — no data-volume shuffle at any input size."""
    run_id = uuid.uuid4().hex[:12]
    sroot = stats_root(work_dir)
    done = {m.get("stats_for") for m in shim.chain_manifests(sroot)}
    root = output_root(work_dir)
    extracted = shim.chain_manifests(root)
    if not extracted:
        raise FileNotFoundError(
            f"no extraction output committed yet under {root}")
    new = [m for m in extracted if m["snapshot_id"] not in done]
    committed = []
    for m in new:
        sid = m["snapshot_id"]
        frame = _sketch_long_frame(_snapshot_texts(spark, m["data_dir"]))
        # parent_id="auto" chains onto the current stats snapshot so
        # the chain reaches every committed frame
        out_sid = shim.prepare_snapshot(
            frame.coalesce(1), sroot,
            snapshot_id=f"stats-{run_id}-{sid}",
            extra={"stats_for": sid})
        shim.publish_snapshot(sroot, out_sid)
        committed.append(out_sid)
    return {"run_id": run_id, "snapshots": committed,
            "covered": sorted(done - {None})
            + [m["snapshot_id"] for m in new], "skipped": len(done)}


def combined_sketches(spark: SparkSession,
                      work_dir: str) -> dict[str, DataFrame]:
    """Fold every committed stats snapshot into the corpus-level
    sketches WITHOUT touching document text: HLL registers by
    elementwise max, CMS counters by elementwise add, KMV by bottom-k
    of the hash union — each a bounded aggregate over n_snapshots ×
    ≤~1300 stored rows."""
    from ocr_spark.plans.sketches import cms_fold, hll_fold, kmv_fold

    sroot = stats_root(work_dir)
    dirs = [m["data_dir"] for m in shim.chain_manifests(sroot)]
    if not dirs:
        raise FileNotFoundError(f"no stats snapshots under {sroot}")
    allf = spark.read.parquet(*dirs)

    def kind(k: str) -> DataFrame:
        return allf.filter(F.col("kind") == k)

    return {
        "hll": hll_fold(kind("hll").select(F.col("k1").alias("reg"),
                                           F.col("v").alias("m_reg"))),
        "cms": cms_fold(kind("cms").select(
            F.col("k1").cast("int").alias("r"), F.col("k2").alias("b"),
            F.col("v").alias("counter"))),
        "kmv": kmv_fold(kind("kmv").select(F.col("k1").alias("h"))),
    }


def verify_stats(spark: SparkSession, work_dir: str) -> dict:
    """Consumer-side check of the stats store: the folded sketches
    must equal the from-scratch frames over ALL extracted text — the
    merge-exactness the sketch queries pin per algebra, here asserted
    over the actually-published artifacts. Returns per-sketch mismatch
    counts (all zero on a healthy store)."""
    from ocr_spark.plans.sketches import (
        KMV_K, _cms_frame, _kmv_frame, _register_frame, _tok_col,
    )

    texts = read_extracted(spark, work_dir) \
        .filter(F.col("error").isNull() & F.col("text").isNotNull()) \
        .select("text")
    occ = texts.select(_tok_col())
    folded = combined_sketches(spark, work_dir)

    def n_diff(a: DataFrame, b: DataFrame) -> int:
        return a.exceptAll(b).count() + b.exceptAll(a).count()

    return {
        "hll_mismatches": n_diff(folded["hll"], _register_frame(texts)),
        "cms_mismatches": n_diff(folded["cms"], _cms_frame(occ)),
        "kmv_mismatches": n_diff(folded["kmv"], _kmv_frame(occ, KMV_K)),
    }


def labeling_root(work_dir: str) -> str:
    return os.path.join(work_dir, "labeling")


def _labeling_batch(spark: SparkSession, work_dir: str,
                    k: int) -> tuple[list, dict[str, str]]:
    """Pure batch computation shared by run_labeling_job (which
    commits) and verify_labeling (which must NOT): returns the
    rank-ordered batch rows and the per-language digests."""
    import hashlib

    from pyspark.sql.window import Window

    from ocr_spark.plans.curation import (
        SCORE_ROUND, classifier_score_frame)
    from ocr_spark.plans.dataops import (
        _tokens, langid_hit_cols, langid_pred_col)

    out = (read_extracted(spark, work_dir)
           .filter(F.col("error").isNull() & F.col("text").isNotNull()
                   & (F.length("text") > 0))
           .select("url", "text"))
    with_lang = out.select(
        "url", "text", *langid_hit_cols(_tokens("text"))) \
        .withColumn("lang", langid_pred_col()).select("url", "text", "lang")
    # THE classifier score, via the shared recipe (lang is
    # url-functional, so joining it back preserves the ranking)
    scored = (with_lang.select("url", "lang")
              .join(classifier_score_frame(with_lang.select("url", "text")),
                    "url")
              .select("url", "lang", "score")
              .withColumn("margin",
                          F.round(F.abs(F.col("score") - 0.5),
                                  SCORE_ROUND)))
    w = Window.partitionBy("lang").orderBy(F.asc("margin"), F.asc("url"))
    batch = (scored.withColumn("rank_in_lang", F.row_number().over(w))
             .filter(F.col("rank_in_lang") <= k)
             .select("lang", "rank_in_lang", "url", "score", "margin"))
    rows = sorted(batch.collect(),
                  key=lambda r: (r.lang, r.rank_in_lang))
    per_lang: dict[str, list] = {}
    for r in rows:
        per_lang.setdefault(r.lang, []).append(r.url)
    digests = {lang: hashlib.md5("\x1e".join(urls).encode()).hexdigest()
               for lang, urls in sorted(per_lang.items())}
    return rows, digests


def run_labeling_job(spark: SparkSession, work_dir: str, *,
                     batch_per_lang: int | None = None) -> dict:
    """Active-learning annotation-batch stage — the pipeline form of
    the oracle-checked docs_uncertainty_sample: score EVERY committed
    successfully-extracted document with the quality classifier
    (broadcast weight table, the docs_classifier_score recipe; drops
    as well as keeps sit near the boundary, so the batch draws from
    the FULL extraction output, not the kept set), language-ID the
    text with the shared langid kernel, and nominate each language's
    ``batch_per_lang`` smallest-margin documents as the next human
    annotation batch. The batch is committed under
    ``labeling/run=<id>/`` with a per-language content digest (md5
    over the rank-ordered url list), so the annotation vendor's
    received batch is verifiable against lineage and a re-run on the
    same snapshot is bit-reproducible — the same consumer-side
    discipline as the export/sampling manifests.

    Determinism: margins rank the SCORE_ROUND-rounded score (the
    cross-engine convention), ties break on url; the digest is
    derived from the ordered batch, never from partition order.

    Scale shape: the classifier's broadcast-join + per-doc partial
    aggregate (token volume touched once), a langid narrow map, ONE
    lang-keyed top-k window, and a batch of |langs|·K rows — the
    only driver-side data is that bounded batch."""
    from ocr_spark.plans.curation import UNC_SAMPLE_K

    k = batch_per_lang or UNC_SAMPLE_K
    rows, digests = _labeling_batch(spark, work_dir, k)
    run_id = uuid.uuid4().hex[:12]
    report = spark.createDataFrame(
        [(run_id, r.lang, int(r.rank_in_lang), r.url,
          float(r.score), float(r.margin), digests[r.lang])
         for r in rows],
        "run_id string, lang string, rank_in_lang int, url string, "
        "score double, margin double, lang_digest string")
    # two-phase commit, same discipline as export/sampling/sft: stage
    # under a _tmp name (invisible to verify_labeling_all's run=* glob),
    # then os.replace into run=<id> — a crash mid-write leaves only the
    # _tmp dir, never a partial run that a later verify would read
    dest = os.path.join(labeling_root(work_dir), f"run={run_id}")
    tmp = os.path.join(labeling_root(work_dir), f"_tmp_run={run_id}")
    report.coalesce(1).write.mode("overwrite").parquet(tmp)
    os.replace(tmp, dest)  # atomic on POSIX
    per_lang = {r.lang for r in rows}
    return {"run_id": run_id, "batch_path": dest,
            "n_langs": len(per_lang), "n_docs": len(rows),
            "digests": digests}


def verify_labeling(spark: SparkSession, work_dir: str,
                    run_id: str) -> dict:
    """Consumer-side check of a committed annotation batch: re-derive
    the batch from the same committed extraction output and compare
    the per-language digests — any drift (extraction re-run changed
    text, classifier artifact changed, nondeterminism crept into the
    ranking) shows up as a digest mismatch before a vendor labels a
    single stale row."""
    dest = os.path.join(labeling_root(work_dir), f"run={run_id}")
    stored = spark.read.parquet(dest)
    stored_digests = {r.lang: r.lang_digest
                      for r in stored.select("lang", "lang_digest")
                      .distinct().collect()}
    k = stored.agg(F.max("rank_in_lang")).collect()[0][0]
    _, fresh = _labeling_batch(spark, work_dir, int(k))
    mismatches = {lang: (stored_digests.get(lang), d)
                  for lang, d in fresh.items()
                  if stored_digests.get(lang) != d}
    mismatches.update({lang: (d, None)
                       for lang, d in stored_digests.items()
                       if lang not in fresh})
    return {"run_id": run_id, "mismatches": mismatches,
            "ok": not mismatches}


def verify_labeling_all(spark: SparkSession, work_dir: str) -> dict:
    """verify_all-shaped wrapper over every committed annotation
    batch: re-derives each run's batch from the current extraction
    output and aggregates digest mismatches (a mismatch after an
    extraction re-run means the batch is stale — exactly what the
    vendor handoff must catch). Raises FileNotFoundError when the
    labeling stage never ran, matching the other stages' absent
    semantics."""
    import glob as _glob

    root = labeling_root(work_dir)
    runs = sorted(_glob.glob(os.path.join(root, "run=*")))
    if not runs:
        raise FileNotFoundError(root)
    mismatches: dict = {}
    for dest in runs:
        run_id = os.path.basename(dest).split("=", 1)[1]
        try:
            res = verify_labeling(spark, work_dir, run_id)
        except Exception as exc:  # unreadable/partial run dir → a
            # mismatch to report, not a crash: verify_all's stage
            # semantics are present/absent/failed, never raise
            mismatches[run_id] = {"_unreadable": (type(exc).__name__, None)}
            continue
        if res["mismatches"]:
            mismatches[run_id] = res["mismatches"]
    return {"runs": len(runs), "mismatches": mismatches}
