"""The workloads: what set-up, the timed body and the traced pass run.

``crawl_increments`` — set-up commits the seed's base snapshot with
    ``run_extraction_job`` (the warm job). The body appends
    ``INCREMENT_PAGES``-page snapshots to the input table, committing each
    with ``run_incremental_extraction_job`` in one wave.
``curate`` — set-up commits the base snapshot (the warm job); the body runs
    ``run_curation_job`` (default paragraph dedup) over it.
``crawl_html`` / ``layout_skew`` — set-up commits the workload's snapshot to
    an input table and runs the warm job on the base snapshot; the body
    extracts the whole snapshot with ``run_extraction_job`` (default waves)
    into a fresh work directory per job.

Timed bodies loop until ``seconds`` have passed and at least
``repeats`` increments / curations have run. Each checks its outputs
after its last timed job. A traced pass runs one job of the body's kind
(see ``traced``), after the body, so both it and the body's last job are
warm when ``trace.overhead_frac`` compares them.
"""

from __future__ import annotations

import functools
import os
import statistics
import time
from contextlib import nullcontext

from pyspark.sql import DataFrame, functions as F

from ocr_spark.core.extract import FIXTURE_MAGIC, extract_document
from ocr_spark.job import (
    output_root, run_curation_job, run_extraction_job,
    run_incremental_extraction_job,
)
from ocr_spark.operators.bookkeeping import (
    checkpoints_path, lineage_path, metrics_path,
)
from ocr_spark.operators.extraction import EXTRACT_RESULT_SCHEMA
from ocr_spark.sources import PAGES_SCHEMA
from ocr_spark.sources import iceberg_shim as shim

from checks import check_curation, check_extraction, kept_digest
from corpus import BASE_PAGES, Corpus
from spans import total

WARM_WAVES = 1  # the set-up base commit warms every job code path once
# A 500-page increment is committed in one wave, as the base is: waves set
# resume granularity for big snapshots, and at the default 4 waves a commit
# costs ~2x as much, more than a run's time budget can carry.
INCREMENT_WAVES = 1
CORE_SAMPLE = {"html": 240, "fixture": 60}  # rows timed single-threaded


class Context:
    """What every workload needs: the session, pinned job arguments, the
    run's scratch directory, the seed's corpus, and the check results."""

    def __init__(self, spark, job_kw: dict, work: str, corpus: Corpus,
                 seed: int):
        self.spark = spark
        self.job_kw = job_kw
        self.work = work
        self.corpus = corpus
        self.seed = seed
        self.failed = 0
        self.problems: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def append_input(self, parquet: str, table_root: str) -> None:
        """Commit one cached corpus piece as a new input snapshot."""
        shim.write_snapshot(
            self.spark.read.schema(PAGES_SCHEMA).parquet(parquet), table_root)

    def record(self, failed: int, problems: list[str]) -> None:
        self.failed += failed
        self.problems += problems


def _timed(tracer, name: str, fn, *args, **kwargs):
    """(result, seconds) of one job call, inside a span when tracing."""
    with tracer.span(name) if tracer else nullcontext():
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        return out, time.perf_counter() - t0


def _repeat(seconds: float, at_least: int, fn) -> list:
    """Call ``fn(i)`` until ``seconds`` have passed and it ran at least
    ``at_least`` times; returns the results."""
    start, out = time.perf_counter(), []
    while len(out) < at_least or time.perf_counter() - start < seconds:
        out.append(fn(len(out)))
    return out


def _extract_checked(ctx: Context, work_dir: str, inputs: list[dict],
                     tracer=None, **job_kw) -> tuple[dict, float]:
    """Extract the input table ``in`` into ``work_dir`` with
    ``run_extraction_job`` and check the output: (summary, seconds)."""
    out = _timed(tracer, "run_extraction_job", run_extraction_job, ctx.spark,
                 ctx.path("in"), work_dir, **{**ctx.job_kw, **job_kw})
    ctx.record(*check_extraction(ctx.spark, ctx.path("in"), work_dir, inputs,
                                 ctx.seed))
    return out


def _rates(runs: list[tuple[dict, float]]) -> dict:
    """Per-job figures of ``runs`` = [(job summary, seconds)]: median docs/s,
    the last job's docs/s and the seconds."""
    return {"docs_per_s": statistics.median(s["docs"] / w for s, w in runs),
            "last_docs_per_s": runs[-1][0]["docs"] / runs[-1][1],
            "commit_s": [w for _, w in runs],
            "attempted": sum(s["docs"] for s, _ in runs)}


class CrawlIncrements:
    name = "crawl_increments"
    repeats = 2

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.in_root = ctx.path("in")
        self.work_dir = self.traced_dir = ctx.path("out")
        self.pieces = [ctx.corpus.base()]
        self.sample_piece = self.pieces[0]

    def setup(self) -> float:
        """Commit the base snapshot; returns the warm job's seconds."""
        ctx = self.ctx
        ctx.append_input(self.pieces[0], self.in_root)
        return _timed(None, "", run_extraction_job, ctx.spark, self.in_root,
                      self.work_dir, **ctx.job_kw, waves=WARM_WAVES)[1]

    def _increments(self, seconds: float, at_least: int,
                    tracer=None) -> dict:
        ctx = self.ctx

        def one(_):
            self.pieces.append(ctx.corpus.increment(len(self.pieces) - 1))
            ctx.append_input(self.pieces[-1], self.in_root)
            return _timed(tracer, "run_incremental_extraction_job",
                          run_incremental_extraction_job, ctx.spark,
                          self.in_root, self.work_dir, **ctx.job_kw,
                          waves=INCREMENT_WAVES)

        runs = _repeat(seconds, at_least, one)
        inputs = [r for p in self.pieces
                  for r in Corpus.read(p, ["url", "html"])]
        ctx.record(*check_extraction(ctx.spark, self.in_root, self.work_dir,
                                     inputs, ctx.seed))
        return {**_rates(runs), "total_docs": len(inputs),
                "out_sids": [o for s, _ in runs
                             for o in s["output_snapshots"]]}

    def body(self, seconds: float) -> dict:
        return self._increments(seconds, self.repeats)

    def traced(self, tracer) -> dict:
        """One more increment on the same chain, then one curation of the
        whole output (so the plans layer is traced too)."""
        res = self._increments(0, 1, tracer)
        res["curations"] = [_curate_once(self.ctx, self.work_dir,
                                         res["total_docs"], tracer)[0]]
        return res


class Curate:
    name = "curate"
    repeats = 2  # the first curation in a process is the slowest

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.sample_piece = ctx.corpus.base()
        self.inputs = Corpus.read(self.sample_piece, ["url", "html"])
        self.traced_dir = ctx.path("traced")

    def setup(self) -> float:
        """Commit the base snapshot (the warm job); returns its seconds."""
        ctx = self.ctx
        ctx.append_input(self.sample_piece, ctx.path("in"))
        return _extract_checked(ctx, ctx.path("base"), self.inputs,
                                waves=WARM_WAVES)[1]

    def _curations(self, seconds: float, at_least: int, work_dir: str,
                   tracer=None) -> dict:
        runs = _repeat(seconds, at_least, lambda _: _curate_once(
            self.ctx, work_dir, BASE_PAGES, tracer))
        return {**_rates(runs), "curations": [s for s, _ in runs]}

    def body(self, seconds: float) -> dict:
        return self._curations(seconds, self.repeats, self.ctx.path("base"))

    def traced(self, tracer) -> dict:
        """A fresh default-wave extraction of the base snapshot, then one
        curation of it."""
        summary, _ = _extract_checked(self.ctx, self.traced_dir, self.inputs,
                                      tracer)
        res = self._curations(0, 1, self.traced_dir, tracer)
        return {**res, "out_sids": summary["output_snapshots"]}


def _curate_once(ctx: Context, work_dir: str, docs: int,
                 tracer) -> tuple[dict, float]:
    """One checked ``run_curation_job`` over the ``docs`` documents
    committed in ``work_dir``: (summary, seconds)."""
    summary, s = _timed(tracer, "run_curation_job", run_curation_job,
                        ctx.spark, work_dir)
    digest = kept_digest(ctx.spark, work_dir, summary["snapshot"])
    ctx.record(*check_curation(
        summary, docs, digest,
        os.path.join(ctx.corpus.cache_dir, f"kept-{docs}.sha256")))
    return summary, s


class FreshSnapshot:
    """One fresh input snapshot extracted whole by ``run_extraction_job``."""
    repeats = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.sample_piece = self.snapshot(ctx.corpus)
        self.inputs = Corpus.read(self.sample_piece, ["url", "html"])
        self.traced_dir = ctx.path("traced")

    def setup(self) -> float:
        """Commit the snapshot, then run the warm job on the base snapshot;
        returns the warm job's seconds."""
        ctx = self.ctx
        ctx.append_input(ctx.corpus.base(), ctx.path("warm-in"))
        ctx.append_input(self.sample_piece, ctx.path("in"))
        return _timed(None, "", run_extraction_job, ctx.spark,
                      ctx.path("warm-in"), ctx.path("warm"), **ctx.job_kw,
                      waves=WARM_WAVES)[1]

    def body(self, seconds: float) -> dict:
        runs = _repeat(seconds, self.repeats, lambda k: _extract_checked(
            self.ctx, self.ctx.path(f"out{k}"), self.inputs))
        return _rates(runs)

    def traced(self, tracer) -> dict:
        """One extraction of the snapshot; no curation runs."""
        summary, s = _extract_checked(self.ctx, self.traced_dir, self.inputs,
                                      tracer)
        return {**_rates([(summary, s)]), "curations": [],
                "out_sids": summary["output_snapshots"]}


class CrawlHtml(FreshSnapshot):
    name = "crawl_html"
    snapshot = staticmethod(Corpus.crawl)


class LayoutSkew(FreshSnapshot):
    name = "layout_skew"
    snapshot = staticmethod(Corpus.layout_skew)


WORKLOADS = {w.name: w for w in (CrawlIncrements, Curate, CrawlHtml,
                                 LayoutSkew)}


# ---------------------------------------------------------------- per layer

def core_rates(piece: str) -> dict:
    """Single-process ``extract_document`` docs/s on a fixed sample of the
    workload's own rows (no Spark): the single-threaded baseline. Also the
    rows' fixture share, which weights the two rates."""
    rows = Corpus.read(piece, ["url", "html"])
    kinds = {
        "html": [r for r in rows if not r["html"].startswith(FIXTURE_MAGIC)],
        "fixture": [r for r in rows if r["html"].startswith(FIXTURE_MAGIC)],
    }
    rates = {"fixture_frac": len(kinds["fixture"]) / len(rows)}
    for kind, n in CORE_SAMPLE.items():
        sample = kinds[kind][:n]
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            for r in sample:
                extract_document(r["url"], r["html"])
            runs.append(len(sample) / (time.perf_counter() - t0))
        rates[kind] = statistics.median(runs)
    return rates


def bookkeeping_rows(spark, work_dir: str) -> int:
    """Rows in the checkpoint, lineage and metrics tables of ``work_dir``."""
    paths = [p(work_dir) for p in (checkpoints_path, lineage_path,
                                   metrics_path)]
    return sum(spark.read.parquet(p).count() for p in paths
               if os.path.exists(p))


def output_stats(spark, work_dir: str, out_sids: list[str]) -> dict:
    """Counters the traced jobs' output snapshots carry."""
    root = output_root(work_dir)
    out = functools.reduce(DataFrame.unionByName, [
        shim.read_snapshot(spark, root, sid, schema=EXTRACT_RESULT_SCHEMA)
        for sid in out_sids])
    agg = out.agg(F.count("*").alias("docs"),
                  F.sum("bytes_in").alias("bytes_in"),
                  F.sum("extract_ms").alias("ms"),
                  F.max("extract_ms").alias("ms_max")).collect()[0]
    per_bucket = [r.ms for r in out.groupBy("bucket")
                  .agg(F.sum("extract_ms").alias("ms")).collect()]
    return {"docs": agg.docs, "bytes_in": agg.bytes_in, "kernel_ms": agg.ms,
            "doc_ms_max": agg.ms_max,
            "bucket_skew": max(per_bucket) / statistics.median(per_bucket),
            "chain_len": len(shim.history(root))}


def layer_metrics(spans: list[dict], stats: dict, rows_appended: int,
                  rates: dict, curations: list[dict], session: dict,
                  cores: int) -> dict:
    """Per-layer figures of one traced pass. Times are summed over the
    pass's extraction jobs; ``curation.prepare_s`` is per curation job and
    the ``curation.*`` figures are left out when no curation ran."""
    jobs_s = (total(spans, "run_extraction_job")[0]
              + total(spans, "run_incremental_extraction_job")[0])
    prepare_s, prepare_n = total(spans, "iceberg_shim.prepare_snapshot",
                                 table="extracted")
    publish_s, _ = total(spans, "iceberg_shim.publish_snapshot",
                         table="extracted")
    commit_s, commit_n = total(spans, "job.commit_bucket_bookkeeping")
    cur_prepare_s, _ = total(spans, "iceberg_shim.prepare_snapshot",
                             table="curated")
    frac = rates["fixture_frac"]
    mix_rate = 1 / ((1 - frac) / rates["html"] + frac / rates["fixture"])
    layers = {
        "session.start_s": session["start_s"],
        "session.warm_s": session["warm_s"],
        "job.wall_s": jobs_s,
        "job.waves_run": total(spans, "job.run_extraction")[1],
        "job.roll_forward_s": total(spans, "job._roll_forward_orphans")[0],
        "job.kernel_util": stats["kernel_ms"] / 1000 / (cores * jobs_s),
        "job.spark_over_kernel": stats["docs"] / jobs_s / (cores * mix_rate),
        "shim.prepare_s": prepare_s,
        "shim.prepare_calls": prepare_n,
        "shim.publish_s": publish_s,
        "shim.output_chain_len": stats["chain_len"],
        "extraction.docs_out": stats["docs"],
        "extraction.bytes_in_mb": stats["bytes_in"] / 1e6,
        "extraction.kernel_ms_sum": stats["kernel_ms"],
        "extraction.stage_overhead_frac":
            1 - stats["kernel_ms"] / 1000 / (cores * prepare_s),
        "extraction.doc_ms_max": stats["doc_ms_max"],
        "extraction.bucket_ms_max_over_median": stats["bucket_skew"],
        "bookkeeping.commit_s": commit_s,
        "bookkeeping.commit_calls": commit_n,
        "bookkeeping.commit_share": commit_s / jobs_s,
        "bookkeeping.completed_s":
            total(spans, "bookkeeping.completed_buckets_by_snapshot")[0],
        "bookkeeping.rows_appended": rows_appended,
        "core.html_docs_per_s": rates["html"],
        "core.fixture_docs_per_s": rates["fixture"],
    }
    if curations:
        layers["curation.prepare_s"] = cur_prepare_s / len(curations)
        layers["curation.docs_kept_frac"] = (
            sum(c["docs_kept"] for c in curations)
            / sum(c["docs"] for c in curations))
        layers["curation.paras_removed"] = sum(c["paras_removed"]
                                               for c in curations)
    return layers
