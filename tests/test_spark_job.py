"""Spark-level tests: mapInArrow ≡ sequential (batching/order safety),
resume/checkpoint idempotency, skew smoke (SURVEY.md §5.2.3/5/7)."""

from __future__ import annotations

import json
import os

import pytest

from ocr_spark.core.extract import extract_document
from ocr_spark.gen.corpus import generate_pages

N_ROWS = 150


@pytest.fixture(scope="module")
def pages_table(spark, tmp_path_factory):
    from ocr_spark.sources import iceberg_shim as shim

    root = str(tmp_path_factory.mktemp("pages_tbl"))
    rows = generate_pages(N_ROWS, seed=42, oversized_rows=1)
    df = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    shim.write_snapshot(df, root)
    return root, rows


def _synthetic_wave_chain(work_dir: str, n_waves: int) -> list[str]:
    """``scripts/chain_commit_bench.synthetic_wave_chain``: published
    wave manifests (with their table exports, no data) under
    ``work_dir``; returns the input snapshot ids."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts"))
    try:
        from chain_commit_bench import synthetic_wave_chain
    finally:
        sys.path.pop(0)
    return synthetic_wave_chain(work_dir, n_waves)


def test_spark_equals_sequential(spark, pages_table):
    """Bit-for-bit: the distributed mapInArrow run must equal the pure
    sequential run for every url (catches batching/order bugs)."""
    from ocr_spark.operators.extraction import run_extraction

    root, rows = pages_table
    from ocr_spark.sources import iceberg_shim as shim
    pages = shim.read_current(spark, root)
    got = {
        r["url"]: r for r in
        run_extraction(pages, partitions=16, big_partitions=2)
        .select("url", "text", "blocks_json", "spans_json", "matches_json",
                "error").toPandas().to_dict("records")
    }
    assert len(got) == N_ROWS
    for row in rows:
        res = extract_document(row["url"], row["html"])
        g = got[row["url"]]
        assert g["error"] is None or g["error"] == res.error
        assert g["text"] == res.text, row["url"]
        assert json.loads(g["blocks_json"]) == json.loads(
            json.dumps(res.blocks)), row["url"]
        assert json.loads(g["matches_json"]) == json.loads(
            json.dumps(res.matches)), row["url"]


def test_offsets_blocks_mode_roundtrips(spark, pages_table):
    """OCR_SPARK_BLOCKS_MODE=offsets: reconstructable blocks shed ONLY
    their duplicated text string (bbox/section_info are kept — not
    derivable from offsets), and rehydrate_blocks restores the complete
    block dict losslessly; doc text and all counters are identical
    between modes. The 0.7 size bound holds because block text dominates
    blocks_json on this corpus (whole-document spans for HTML blocks)."""
    from ocr_spark.operators.extraction import rehydrate_blocks, run_extraction
    from ocr_spark.sources import iceberg_shim as shim

    root, _rows = pages_table
    pages = shim.read_current(spark, root).limit(60)
    cols = ["url", "text", "n_blocks", "blocks_json"]
    full = {r["url"]: r for r in
            run_extraction(pages, partitions=4, big_partitions=1,
                           blocks_mode="full")
            .select(*cols).toPandas().to_dict("records")}
    offs = {r["url"]: r for r in
            run_extraction(pages, partitions=4, big_partitions=1,
                           blocks_mode="offsets")
            .select(*cols).toPandas().to_dict("records")}
    assert set(full) == set(offs)
    full_bytes = sum(len(r["blocks_json"]) for r in full.values())
    offs_bytes = sum(len(r["blocks_json"]) for r in offs.values())
    assert offs_bytes < full_bytes * 0.7, (offs_bytes, full_bytes)
    for url, f in full.items():
        o = offs[url]
        assert o["text"] == f["text"]
        assert o["n_blocks"] == f["n_blocks"]
        fb = json.loads(f["blocks_json"])
        ob = rehydrate_blocks(o["text"], json.loads(o["blocks_json"]))
        # LOSSLESS: rehydration restores the complete block dict —
        # bbox and section_info must survive compaction (they are not
        # derivable from text offsets)
        assert ob == fb, url


def test_resume_after_injected_failure(spark, pages_table, tmp_path,
                                       crash):
    """Kill-after-K-waves → rerun → identical final table, no
    double-processing (SURVEY.md §5.2.5)."""
    from ocr_spark.job import read_extracted, run_extraction_job

    root, rows = pages_table
    work = str(tmp_path / "work")

    with crash("after_wave", 2), \
            pytest.raises(RuntimeError, match="injected failure"):
        run_extraction_job(spark, root, work, partitions=16,
                           big_partitions=2, waves=4)

    partial = read_extracted(spark, work)
    n_partial = partial.count()
    assert 0 < n_partial < N_ROWS

    summary = run_extraction_job(spark, root, work, partitions=16,
                                 big_partitions=2, waves=4)
    assert summary["buckets_skipped"] > 0

    final = read_extracted(spark, work)
    urls = [r.url for r in final.select("url").collect()]
    assert len(urls) == N_ROWS
    assert len(set(urls)) == N_ROWS, "double-processing detected"

    # lineage rows complete: every bucket accounted exactly once
    lineage = spark.read.parquet(os.path.join(work, "lineage"))
    per_bucket = lineage.groupBy("partition_id").count().collect()
    assert all(r["count"] == 1 for r in per_bucket)
    assert lineage.groupBy().sum("doc_count").collect()[0][0] == N_ROWS

    # the per-wave export files read back untyped under the declared
    # table schemas
    from ocr_spark.operators import bookkeeping as bk
    for path, ddl in ((bk.checkpoints_path, bk.CHECKPOINT_SCHEMA),
                      (bk.lineage_path, bk.LINEAGE_SCHEMA),
                      (bk.metrics_path, bk.METRICS_SCHEMA)):
        assert (spark.read.parquet(path(work)).schema.simpleString()
                == spark.read.schema(ddl).parquet(path(work))
                .schema.simpleString())


def test_rerun_is_noop(spark, pages_table, tmp_path):
    from ocr_spark.job import run_extraction_job

    root, _rows = pages_table
    work = str(tmp_path / "work2")
    s1 = run_extraction_job(spark, root, work, partitions=16,
                            big_partitions=2, waves=2)
    s2 = run_extraction_job(spark, root, work, partitions=16,
                            big_partitions=2, waves=2)
    assert s1["docs"] == N_ROWS
    assert s2["docs"] == 0 and s2["buckets_processed"] == 0


def test_oversized_rows_isolated(spark, pages_table):
    """Skew smoke: the ≥10MB row must land in the dedicated big-row
    partitions, not among normal rows (SURVEY.md §5.2.7)."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.extraction import salted_repartition
    from ocr_spark.sources import iceberg_shim as shim

    root, _rows = pages_table
    pages = shim.read_current(spark, root)
    parts = 8
    salted = salted_repartition(pages, partitions=parts, big_partitions=2)
    dist = (salted.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(F.max(F.length("html")).alias("max_len"),
                 F.count("*").alias("n"))
            .collect())
    big_parts = [r.pid for r in dist if r.max_len > 2_000_000]
    assert big_parts, "oversized row missing"
    for r in dist:
        if r.pid in big_parts:
            assert r.n <= 3, "big partition should hold only oversized rows"
    # big rows occupy the FIRST partition ids: they are scheduled first
    # so a multi-second oversized task never runs as a serial tail after
    # the normal partitions have drained (LPT-first scheduling)
    assert all(pid < 2 for pid in big_parts)


def test_typed_struct_views(spark, pages_table):
    from pyspark.sql import functions as F

    from ocr_spark.operators.extraction import run_extraction, with_typed_structs
    from ocr_spark.sources import iceberg_shim as shim

    root, _rows = pages_table
    pages = shim.read_current(spark, root).limit(40)
    typed = with_typed_structs(run_extraction(pages, partitions=4,
                                              big_partitions=1))
    row = (typed.filter(F.col("kind") == "fixture")
           .select(F.explode("matches").alias("m")).first())
    assert row is not None
    assert set(row.m.asDict()) == {"figure_box", "figure_page", "page_num",
                                   "raw_text", "figure_text", "text_box"}


def test_crash_after_stage_no_duplicates(spark, pages_table, tmp_path,
                                         crash):
    """Crash window #1: data and manifest staged, nothing published. The
    staged snapshot is unreachable garbage: resume re-runs its buckets,
    the final table has exactly one row per url, and the tables never
    hold rows for the discarded wave."""
    import pytest

    from ocr_spark.job import read_extracted, run_extraction_job
    from ocr_spark.sources import iceberg_shim as shim

    root, _rows = pages_table
    work = str(tmp_path / "work_stage")
    with crash("after_stage", 2), \
            pytest.raises(RuntimeError, match="after stage"):
        run_extraction_job(spark, root, work, partitions=16,
                           big_partitions=2, waves=4)
    out_root = os.path.join(work, "extracted")
    published = shim.history(out_root)
    staged = {f[len("snap-"):-len(".json")]
              for f in os.listdir(os.path.join(out_root, "_snapshots"))
              if f.startswith("snap-")} - set(published)
    assert len(staged) == 1
    lineage = os.path.join(work, "lineage")
    assert sorted(os.listdir(lineage)) == sorted(
        f"{sid}.parquet" for sid in published)
    assert (spark.read.parquet(lineage).groupBy().sum("doc_count")
            .collect()[0][0]) == read_extracted(spark, work).count()

    run_extraction_job(spark, root, work, partitions=16,
                       big_partitions=2, waves=4)
    urls = [r.url for r in read_extracted(spark, work).select("url").collect()]
    assert len(urls) == N_ROWS and len(set(urls)) == N_ROWS
    assert not any(f"{sid}.parquet" in os.listdir(lineage) for sid in staged)
    _assert_tables_complete(spark, work, N_ROWS)


def _assert_tables_complete(spark, work: str, n_docs: int) -> None:
    """lineage: one row per populated bucket, doc counts summing to
    ``n_docs``; checkpoints: every bucket of the input snapshot."""
    from ocr_spark.operators.bookkeeping import (
        CHECKPOINT_SCHEMA, checkpoints_path, lineage_path,
    )
    from ocr_spark.operators.extraction import DEFAULT_BUCKETS

    lineage = spark.read.parquet(lineage_path(work))
    assert all(r["count"] == 1 for r in
               lineage.groupBy("snapshot_id", "partition_id").count()
               .collect())
    assert lineage.groupBy().sum("doc_count").collect()[0][0] == n_docs
    ckpt = {r.url_hash_bucket for r in
            spark.read.schema(CHECKPOINT_SCHEMA)
            .parquet(checkpoints_path(work)).collect()}
    assert ckpt == set(range(DEFAULT_BUCKETS))


def test_crash_after_publish_repairs_tables(spark, pages_table, tmp_path,
                                            crash):
    """Crash window #2: the pointer swap committed the wave, the table
    export did not run. The next job start writes the missing table rows
    from the manifest (``rolled_forward`` counts repaired waves) and
    re-extracts nothing: the published wave's buckets are done."""
    import pytest

    from ocr_spark.job import read_extracted, run_extraction_job

    root, _rows = pages_table
    work = str(tmp_path / "work_pub")
    with crash("after_publish", 2), \
            pytest.raises(RuntimeError, match="after publish"):
        run_extraction_job(spark, root, work, partitions=16,
                           big_partitions=2, waves=4)
    n_committed = read_extracted(spark, work).count()
    summary = run_extraction_job(spark, root, work, partitions=16,
                                 big_partitions=2, waves=4)
    assert summary["rolled_forward"] >= 1
    assert summary["buckets_skipped"] == 32  # two 16-bucket waves
    assert summary["buckets_processed"] == 32
    assert summary["docs"] == N_ROWS - n_committed
    urls = [r.url for r in read_extracted(spark, work).select("url").collect()]
    assert len(urls) == N_ROWS and len(set(urls)) == N_ROWS
    _assert_tables_complete(spark, work, N_ROWS)


def test_resume_with_different_n_buckets_raises(spark, pages_table,
                                                tmp_path, crash):
    """Checkpoints name buckets by number, so a 32-bucket resume of a
    partial 64-bucket run would count docs with h mod 64 in 32..47 as
    done and never extract them. It must raise instead, from the full
    and the incremental job and after compaction, and the output must
    stay resumable under the recorded value."""
    from ocr_spark.job import (
        compact_snapshots, read_extracted, run_extraction_job,
        run_incremental_extraction_job,
    )

    root, _rows = pages_table
    work = str(tmp_path / "work_nb")
    kw = dict(partitions=8, big_partitions=1, waves=4)
    for _ in range(2):  # two partial runs → two output snapshots
        with crash("after_wave", 1), \
                pytest.raises(RuntimeError, match="injected failure"):
            run_extraction_job(spark, root, work, n_buckets=64, **kw)
    for job in (run_extraction_job, run_incremental_extraction_job):
        with pytest.raises(ValueError,
                           match="n_buckets=32 does not match n_buckets=64"):
            job(spark, root, work, n_buckets=32, **kw)
    assert compact_snapshots(spark, work)["compacted"] == 2
    with pytest.raises(ValueError, match="n_buckets=64"):
        run_extraction_job(spark, root, work, n_buckets=32, **kw)

    run_extraction_job(spark, root, work, n_buckets=64, **kw)
    urls = [r.url for r in read_extracted(spark, work).select("url").collect()]
    assert len(urls) == N_ROWS and len(set(urls)) == N_ROWS


def test_bucket_directory_layout_is_refused(spark, pages_table, tmp_path):
    """Output written with ``bucket=N`` directories (manifest
    ``partition_by == ["bucket"]``) does not read back together with the
    flat snapshots a new commit would add: Spark rejects the mixed
    directory structures on read. Job start and compaction refuse it up
    front, naming the snapshot, and commit nothing."""
    from ocr_spark.job import (
        compact_snapshots, output_root, run_extraction_job,
        run_incremental_extraction_job,
    )
    from ocr_spark.sources import iceberg_shim as shim

    root, _rows = pages_table
    work = str(tmp_path / "work_old_layout")
    _synthetic_wave_chain(work, 3)
    out_root = output_root(work)
    old = shim.read_manifest(out_root, "wave-00001")
    shim._write_manifest(out_root, {**old, "partition_by": ["bucket"]})
    history = shim.history(out_root)
    kw = dict(partitions=4, big_partitions=1, n_buckets=64)
    for run in (lambda: run_extraction_job(spark, root, work, **kw),
                lambda: run_incremental_extraction_job(spark, root, work,
                                                       **kw),
                lambda: compact_snapshots(spark, work)):
        with pytest.raises(ValueError,
                           match=r"wave-00001 .*fresh work dir"):
            run()
    assert shim.history(out_root) == history


def test_null_html_becomes_failure_row(spark, tmp_path):
    """NULL html must survive the salted repartition and surface as a
    kernel failure row (null_html), never vanish silently."""
    from ocr_spark.operators.extraction import run_extraction

    df = spark.createDataFrame(
        [("https://x.test/ok", bytearray(b"<p>some real content here ok</p>")),
         ("https://x.test/null", None)],
        "url string, html binary")
    out = {r.url: r for r in run_extraction(df, partitions=4,
                                            big_partitions=1).collect()}
    assert len(out) == 2
    assert out["https://x.test/null"].error == "null_html"
    assert out["https://x.test/ok"].error is None


def test_compact_snapshots(spark, pages_table, tmp_path):
    """Compaction rewrites N output snapshots as one: identical row set,
    single-snapshot history, and resume still a no-op (the compaction
    manifest carries the folded record of the waves it absorbed)."""
    from ocr_spark.job import (
        compact_snapshots, read_extracted, run_extraction_job,
    )
    from ocr_spark.sources import iceberg_shim as shim

    root, _rows = pages_table
    work = str(tmp_path / "work_compact")
    run_extraction_job(spark, root, work, partitions=16,
                       big_partitions=2, waves=4)
    out_root = os.path.join(work, "extracted")
    assert len(shim.history(out_root)) > 1
    before = sorted(r.url for r in
                    read_extracted(spark, work).select("url").collect())

    summary = compact_snapshots(spark, work)
    assert summary["compacted"] > 1
    assert shim.history(out_root) == [summary["snapshot"]]
    after = sorted(r.url for r in
                   read_extracted(spark, work).select("url").collect())
    assert after == before
    # small-file compaction: each bucket's rows sit in exactly one file
    # (the pre-write repartition("bucket") routes each bucket to one
    # task), so there are no more files than populated buckets
    import glob

    from pyspark.sql import functions as F
    files_per_bucket = [
        r.files for r in read_extracted(spark, work)
        .withColumn("file", F.input_file_name()).groupBy("bucket")
        .agg(F.countDistinct("file").alias("files")).collect()]
    assert files_per_bucket and set(files_per_bucket) == {1}
    data_dir = shim.read_manifest(out_root, summary["snapshot"])["data_dir"]
    files = glob.glob(os.path.join(data_dir, "**", "*.parquet"),
                      recursive=True)
    assert 0 < len(files) <= len(files_per_bucket), (
        len(files), len(files_per_bucket))

    # resume over the compacted table: everything already committed
    s2 = run_extraction_job(spark, root, work, partitions=16,
                            big_partitions=2, waves=4)
    assert s2["docs"] == 0 and s2["buckets_processed"] == 0
    assert shim.history(out_root) == [summary["snapshot"]]
    # idempotent: compacting a single-snapshot history is a no-op
    assert compact_snapshots(spark, work)["compacted"] == 0


def test_wave_writes_one_file_per_writer_task(spark, pages_table, tmp_path):
    """A one-wave job stages at most one data file per writer task
    (P normal + B oversized partitions), not one per (task, bucket):
    ``bucket`` is stored as a data column, and every row's value is
    ``url_bucket(n_buckets)`` of its url."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from ocr_spark.job import output_root, read_extracted, run_extraction_job
    from ocr_spark.operators.extraction import url_bucket
    from ocr_spark.sources import iceberg_shim as shim

    root, _rows = pages_table
    work = str(tmp_path / "work_files")
    partitions, big_partitions, n_buckets = 6, 2, 64
    run_extraction_job(spark, root, work, partitions=partitions,
                       big_partitions=big_partitions, n_buckets=n_buckets,
                       waves=1)
    [sid] = shim.history(output_root(work))
    data_dir = shim.read_manifest(output_root(work), sid)["data_dir"]
    files = glob.glob(os.path.join(data_dir, "**", "*.parquet"),
                      recursive=True)
    assert 0 < len(files) <= partitions + big_partitions, len(files)
    assert all("bucket" in pq.read_schema(f).names for f in files)

    out = read_extracted(spark, work)
    assert out.count() == N_ROWS
    assert out.filter(~F.col("bucket").eqNullSafe(url_bucket(n_buckets))
                      ).count() == 0


def test_compact_rolls_forward_orphans_first(spark, pages_table, tmp_path,
                                             crash):
    """A published wave whose table export a crash skipped (crash window
    #2) leaves the chain at compaction: its table rows must be written
    BEFORE the rewrite, since afterwards no chain manifest carries its
    record. The run after compaction completes the rest, each url
    exactly once."""
    from ocr_spark.job import (
        compact_snapshots, read_extracted, run_extraction_job,
    )
    from ocr_spark.operators.bookkeeping import lineage_path
    from ocr_spark.sources import iceberg_shim as shim

    root, _rows = pages_table
    work = str(tmp_path / "work_compact_orphan")
    with crash("after_publish", 2), \
            pytest.raises(RuntimeError, match="after publish"):
        run_extraction_job(spark, root, work, partitions=16,
                           big_partitions=2, waves=4)
    out_root = os.path.join(work, "extracted")
    assert len(os.listdir(lineage_path(work))) == 1  # wave 2 unexported

    summary = compact_snapshots(spark, work)
    assert summary["compacted"] == 2
    assert shim.history(out_root) == [summary["snapshot"]]
    # repaired before the rewrite: both waves' rows are in the tables
    assert len(os.listdir(lineage_path(work))) == 2
    assert (spark.read.parquet(lineage_path(work)).groupBy()
            .sum("doc_count").collect()[0][0]
            == read_extracted(spark, work).count())

    # the compacted snapshot stays reachable as an ancestor of CURRENT,
    # and its folded record keeps the absorbed waves' buckets done
    s2 = run_extraction_job(spark, root, work, partitions=16,
                            big_partitions=2, waves=4)
    assert s2["rolled_forward"] == 0
    assert s2["buckets_skipped"] == 32
    assert summary["snapshot"] in shim.history(out_root)
    urls = [r.url for r in read_extracted(spark, work).select("url").collect()]
    assert len(urls) == N_ROWS and len(set(urls)) == N_ROWS
    _assert_tables_complete(spark, work, N_ROWS)


def test_first_run_on_multi_snapshot_table_reads_whole_chain(spark, tmp_path):
    """A first-ever (or incremental-fallback) run against a table that
    already has several append-chain snapshots must extract EVERY
    snapshot's rows, not just CURRENT's own data dir."""
    from ocr_spark.job import read_extracted, run_incremental_extraction_job
    from ocr_spark.sources import iceberg_shim as shim

    root = str(tmp_path / "chain_pages")
    work = str(tmp_path / "chain_work")
    rows = generate_pages(60, seed=11, oversized_rows=0)

    def to_df(rs):
        return spark.createDataFrame(
            [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
             for r in rs],
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string")

    shim.write_snapshot(to_df(rows[:20]), root, snapshot_id="c1")
    shim.write_snapshot(to_df(rows[20:45]), root, snapshot_id="c2")
    shim.write_snapshot(to_df(rows[45:]), root, snapshot_id="c3")

    # nothing processed yet → the incremental job falls back to the full
    # job, which must see all 60 rows across c1+c2+c3
    s = run_incremental_extraction_job(spark, root, work, partitions=8,
                                       big_partitions=1, waves=2)
    assert s["docs"] == 60, s
    urls = [r.url for r in read_extracted(spark, work).select("url").collect()]
    assert len(urls) == 60 and len(set(urls)) == 60


def test_full_job_after_append_does_not_duplicate(spark, tmp_path):
    """Snapshot s1 fully processed; s2 appended; a FULL (non-
    incremental) run must extract only s2's rows — per-snapshot
    checkpoints skip s1 instead of re-extracting (and duplicating) it."""
    from ocr_spark.job import read_extracted, run_extraction_job
    from ocr_spark.sources import iceberg_shim as shim

    root = str(tmp_path / "app_pages")
    work = str(tmp_path / "app_work")
    rows = generate_pages(50, seed=13, oversized_rows=0)

    def to_df(rs):
        return spark.createDataFrame(
            [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
             for r in rs],
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string")

    shim.write_snapshot(to_df(rows[:30]), root, snapshot_id="a1")
    s1 = run_extraction_job(spark, root, work, partitions=8,
                            big_partitions=1, waves=2)
    assert s1["docs"] == 30

    shim.write_snapshot(to_df(rows[30:]), root, snapshot_id="a2")
    s2 = run_extraction_job(spark, root, work, partitions=8,
                            big_partitions=1, waves=2)
    assert s2["docs"] == 20, s2          # ONLY the appended rows
    assert s2["snapshots_processed"] == 1  # a1 fully committed: not read
    assert s2["buckets_skipped"] == 64 and s2["buckets_processed"] == 64

    urls = [r.url for r in read_extracted(spark, work).select("url").collect()]
    assert len(urls) == 50 and len(set(urls)) == 50, "duplicates!"


def test_incremental_resumes_partial_ancestor(spark, tmp_path, crash):
    """Crash mid-chain: s1 fully processed, s2 partially checkpointed,
    s3 appended. The increment must NOT treat partially-done s2 as
    processed — its remaining buckets resume, s3 extracts, and the
    final table is complete with no duplicates."""
    import pytest

    from ocr_spark.job import (
        read_extracted, run_extraction_job, run_incremental_extraction_job,
    )
    from ocr_spark.sources import iceberg_shim as shim

    root = str(tmp_path / "pa_pages")
    work = str(tmp_path / "pa_work")
    rows = generate_pages(60, seed=17, oversized_rows=0)

    def to_df(rs):
        return spark.createDataFrame(
            [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
             for r in rs],
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string")

    shim.write_snapshot(to_df(rows[:20]), root, snapshot_id="p1")
    assert run_extraction_job(spark, root, work, partitions=8,
                              big_partitions=1, waves=2)["docs"] == 20

    # s2 appended; the full run crashes after s2's first wave (s1 is
    # already fully checkpointed, so the failure hits s2's processing)
    shim.write_snapshot(to_df(rows[20:45]), root, snapshot_id="p2")
    with crash("after_wave", 1), \
            pytest.raises(RuntimeError, match="injected failure"):
        run_extraction_job(spark, root, work, partitions=8,
                           big_partitions=1, waves=4)
    n_partial = read_extracted(spark, work).count()
    assert 20 < n_partial < 45  # s2 partially committed

    shim.write_snapshot(to_df(rows[45:]), root, snapshot_id="p3")
    s = run_incremental_extraction_job(spark, root, work, partitions=8,
                                       big_partitions=1, waves=2)
    assert s["snapshots_processed"] == 2, s  # p2's rest and p3, not p1
    assert s["docs"] == 60 - n_partial, s

    urls = [r.url for r in read_extracted(spark, work).select("url").collect()]
    assert len(urls) == 60 and len(set(urls)) == 60


def test_incremental_job_processes_only_added_snapshot(spark, tmp_path):
    """Snapshot s1 processed fully; snapshot s2 appends new rows; the
    incremental job must extract ONLY the added rows (s1's commit units
    are all done), and the union of outputs covers both waves exactly
    once."""
    from ocr_spark.job import (
        read_extracted, run_extraction_job, run_incremental_extraction_job,
    )
    from ocr_spark.sources import iceberg_shim as shim

    root = str(tmp_path / "inc_pages")
    work = str(tmp_path / "inc_work")
    rows = generate_pages(80, seed=7, oversized_rows=0)

    def to_df(rs):
        return spark.createDataFrame(
            [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
             for r in rs],
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string")

    shim.write_snapshot(to_df(rows[:50]), root, snapshot_id="s1")
    s1 = run_extraction_job(spark, root, work, partitions=8,
                            big_partitions=1, waves=2)
    assert s1["docs"] == 50

    # second crawl wave: only the NEW 30 rows land in s2's data dir
    shim.write_snapshot(to_df(rows[50:]), root, snapshot_id="s2")
    s2 = run_incremental_extraction_job(spark, root, work, partitions=8,
                                        big_partitions=1, waves=2)
    assert s2["docs"] == 30, s2
    assert s2["snapshots_processed"] == 1
    assert s2["buckets_skipped"] == 64 and s2["buckets_processed"] == 64

    urls = [r.url for r in read_extracted(spark, work).select("url").collect()]
    assert len(urls) == 80 and len(set(urls)) == 80

    # idempotent: rerunning the incremental job is a no-op
    s3 = run_incremental_extraction_job(spark, root, work, partitions=8,
                                        big_partitions=1, waves=2)
    assert s3["docs"] == 0 and s3["buckets_processed"] == 0


def test_skew_metrics_and_partition_balance(spark, pages_table, tmp_path):
    """Straggler/skew observability (SURVEY §5.2.7): the metrics table
    carries per-bucket max/median/p99 per-doc extract_ms (so hot
    buckets are visible from bookkeeping alone), and the salted route
    keeps the NORMAL path's per-partition wall-time skew under a stated
    bound — the oversized row rides its own partition and never
    stretches a normal partition's tail."""
    from pyspark.sql import functions as F

    from ocr_spark.job import run_extraction_job
    from ocr_spark.operators.bookkeeping import metrics_path
    from ocr_spark.operators.extraction import run_extraction

    root, rows = pages_table
    work = str(tmp_path / "work_skew")
    run_extraction_job(spark, root, work, partitions=16,
                       big_partitions=2, waves=2)

    m = spark.read.parquet(metrics_path(work))
    for col in ("max_doc_ms", "median_doc_ms", "p99_doc_ms"):
        assert col in m.columns
    stats = [r for r in m.collect() if r.docs > 0]
    assert stats
    for r in stats:
        assert r.max_doc_ms >= r.p99_doc_ms >= r.median_doc_ms > 0
    # the oversized (~10 MB) document's bucket is VISIBLE: its max
    # dwarfs the corpus-typical median
    import statistics
    typical = statistics.median(r.median_doc_ms for r in stats)
    hot = [r for r in stats if r.oversized_count > 0]
    assert hot and max(r.max_doc_ms for r in hot) > 10 * typical

    # normal-route partition balance: per-partition wall (sum of
    # extract_ms, partition-preserved through mapInArrow) outside the
    # big route stays within 4x of the median partition — the p99 bound
    # the salting design promises (url-hash spread, big rows removed)
    df = spark.createDataFrame(
        [(r["url"], r["html"]) for r in rows], "url string, html binary")
    big_partitions = 2
    out = run_extraction(df, partitions=8, big_partitions=big_partitions)
    walls = {r.pid: r.wall for r in
             (out.withColumn("pid", F.spark_partition_id())
              .groupBy("pid").agg(F.sum("extract_ms").alias("wall"))
              .collect())}
    normal = [w for pid, w in walls.items()
              if pid >= big_partitions and w > 0]
    assert len(normal) >= 4
    assert max(normal) <= 4.0 * statistics.median(normal), walls


@pytest.mark.parametrize("n_waves", [50, 200])
def test_job_start_reads_each_manifest_at_most_twice(spark, tmp_path,
                                                     monkeypatch, n_waves):
    """Job-start cost is linear in the output chain: the repair and the
    resume fold read each manifest at most twice (one walk here), so the
    per-sid history walk the data roll-forward once made cannot return.
    Synthetic wave manifests, no Spark job. Every third wave lost its
    table export (crash window #2) and is repaired from its manifest
    alone. A job over the fully committed (empty) inputs reads each
    input manifest once."""
    from ocr_spark import job
    from ocr_spark.operators.bookkeeping import lineage_path
    from ocr_spark.sources import iceberg_shim as shim

    work = str(tmp_path / "work")
    inputs = _synthetic_wave_chain(work, n_waves)
    lost = [f"wave-{i:05d}" for i in range(0, n_waves, 3)]
    for sid in lost:
        os.remove(os.path.join(lineage_path(work), f"{sid}.parquet"))

    reads = []
    read_manifest = shim.read_manifest
    monkeypatch.setattr(shim, "read_manifest",
                        lambda root, sid: reads.append((root, sid))
                        or read_manifest(root, sid))
    done, repaired = job._resume_state(work, 64)
    assert len(reads) <= 2 * n_waves + 2, len(reads)
    assert repaired == len(lost)
    assert sorted(os.listdir(lineage_path(work))) == [
        f"wave-{i:05d}.parquet" for i in range(n_waves)]
    expected: dict = {}
    for i in range(n_waves):  # wave i commits quarter i % 4 of in-{i // 4}
        expected.setdefault(inputs[i // 4], set()).update(
            range(i % 4 * 16, (i % 4 + 1) * 16))
    assert done == expected
    assert job._resume_state(work, 64)[1] == 0  # repaired once

    in_root = str(tmp_path / "input")
    committed = inputs[:n_waves // 4]  # every bucket of these is done
    for sid in committed:
        data_dir = os.path.join(in_root, "data", sid)
        os.makedirs(data_dir)
        shim._write_manifest(in_root, {
            "snapshot_id": sid, "parent_id": shim.current_snapshot_id(in_root),
            "created_at": 0.0, "data_dir": data_dir, "partition_by": []})
        shim.publish_snapshot(in_root, sid)
    reads.clear()
    s = job.run_extraction_job(spark, in_root, work, n_buckets=64)
    in_reads = sorted(sid for root, sid in reads if root == in_root)
    assert in_reads == sorted(committed)  # each input manifest once
    assert len(reads) <= len(committed) + 2 * n_waves + 2, len(reads)
    assert s["docs"] == 0 and s["output_snapshots"] == []
    assert s["buckets_skipped"] == 64 * len(committed)
    assert s["snapshots_processed"] == 0


def test_respect_robots_drops_noindex_pages(spark, tmp_path):
    """respect_robots=True: pages whose meta-robots directive carries
    noindex (doc_id % 17 == 3 in the wrap corpus) are filtered before
    the Arrow boundary and never reach the output; every other page
    extracts normally. Default-off path is covered by every other job
    test (all 500 docs extracted)."""
    from ocr_spark.job import read_extracted, run_extraction_job
    from ocr_spark.plans.extract_queries import pages_from_documents
    from ocr_spark.sources import iceberg_shim as shim

    in_root = str(tmp_path / "in")
    work = str(tmp_path / "work")
    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    shim.write_snapshot(pages, in_root)
    summary = run_extraction_job(spark, in_root, work, partitions=8,
                                 big_partitions=1, waves=2,
                                 respect_robots=True)
    assert summary["respect_robots"] is True

    all_ids = {int(r.doc_id) for r in spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
        .select("doc_id").collect()}
    got_ids = {int(r.url.split("//")[1]) for r in
               read_extracted(spark, work).select("url").collect()}
    assert got_ids == {i for i in all_ids if i % 17 != 3}
    assert summary["docs"] == len(got_ids)


def test_vacuum_absorbed_reclaims_only_compacted_dirs(spark, pages_table,
                                                      tmp_path):
    """Storage maintenance after compaction: vacuum deletes exactly the
    absorbed snapshots' manifests + data dirs (bytes actually freed),
    the compacted table still reads identically, resume stays a no-op
    (the compaction manifest's folded record outlives the vacuumed wave
    manifests), and a second vacuum finds nothing."""
    from ocr_spark.job import (
        compact_snapshots, read_extracted, run_extraction_job,
    )
    from ocr_spark.sources import iceberg_shim as shim

    root, _rows = pages_table
    work = str(tmp_path / "work_vacuum")
    run_extraction_job(spark, root, work, partitions=16,
                       big_partitions=2, waves=4)
    out_root = os.path.join(work, "extracted")
    before = sorted(r.url for r in
                    read_extracted(spark, work).select("url").collect())
    summary = compact_snapshots(spark, work)
    absorbed = shim.read_manifest(
        out_root, summary["snapshot"])["compacted_from"]
    assert absorbed

    dry = shim.vacuum_absorbed(out_root, dry_run=True)
    assert sorted(dry["vacuumed"]) == sorted(absorbed)
    assert dry["bytes_freed"] > 0
    # dry run deleted nothing
    assert all(os.path.exists(os.path.join(out_root, "_snapshots",
                                           f"snap-{s}.json"))
               for s in absorbed)

    got = shim.vacuum_absorbed(out_root)
    assert sorted(got["vacuumed"]) == sorted(absorbed)
    assert got["bytes_freed"] == dry["bytes_freed"]
    for s in absorbed:
        assert not os.path.exists(os.path.join(out_root, "_snapshots",
                                               f"snap-{s}.json"))
    after = sorted(r.url for r in
                   read_extracted(spark, work).select("url").collect())
    assert after == before
    s2 = run_extraction_job(spark, root, work, partitions=16,
                            big_partitions=2, waves=4)
    assert s2["docs"] == 0 and s2["buckets_processed"] == 0
    again = shim.vacuum_absorbed(out_root)
    assert again["vacuumed"] == [] and again["dirs_deleted"] == 0


def test_validation_job_gate(spark, pages_table, tmp_path):
    """The pre-promote constraint suite: a clean extraction passes all
    six constraints in one scan; injecting a duplicate-url row into a
    committed snapshot dir flips url_unique and the gate raises."""
    from ocr_spark.job import (
        ValidationError, output_root, read_extracted, run_extraction_job,
        run_validation_job)
    from ocr_spark.sources import iceberg_shim as shim

    root, _rows = pages_table
    work = str(tmp_path / "work")
    run_extraction_job(spark, root, work, partitions=16,
                       big_partitions=2, waves=2)

    res = run_validation_job(spark, work, gate=True)
    assert res["passed"] and not res["failed"]
    assert res["checked"] == N_ROWS
    report = spark.read.parquet(res["report_path"])
    got = {r.constraint: (r.checked, r.violations, r.passed)
           for r in report.collect()}
    assert set(got) == {
        "url_complete", "url_unique", "text_present_on_success",
        "blocks_positive_on_success", "bytes_in_positive",
        "error_rate_bounded"}
    assert all(v[2] for v in got.values())

    # corrupt: append a duplicate of one committed row (bucket column
    # included) into a committed snapshot's data dir
    sid = shim.history(output_root(work))[0]
    data_dir = shim.read_manifest(output_root(work), sid)["data_dir"]
    one = read_extracted(spark, work).limit(1)
    one.write.mode("append").parquet(data_dir)

    res2 = run_validation_job(spark, work)
    assert not res2["passed"]
    assert res2["failed"].get("url_unique") == 1
    with pytest.raises(ValidationError, match="url_unique"):
        run_validation_job(spark, work, gate=True)


def test_committed_rerun_runs_no_spark_job(spark, tmp_path):
    """A rerun over a fully committed 3-snapshot input finds no commit
    unit left: it reads no input snapshot, so it runs no Spark job
    (none scans a committed snapshot) and leaves every manifest of the
    output chain as it was."""
    from ocr_spark.job import (
        output_root, read_extracted, run_extraction_job,
    )
    from ocr_spark.sources import iceberg_shim as shim

    root = str(tmp_path / "pages")
    work = str(tmp_path / "work")
    rows = generate_pages(45, seed=19, oversized_rows=0)
    for k, sid in enumerate(("r1", "r2", "r3")):
        shim.write_snapshot(spark.createDataFrame(
            [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
             for r in rows[15 * k:15 * (k + 1)]],
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string"), root, snapshot_id=sid)
    kw = dict(partitions=4, big_partitions=1, waves=2)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    try:
        sc.setJobGroup("first_run", "first run")
        first = run_extraction_job(spark, root, work, **kw)
        before = shim.chain_manifests(output_root(work))
        sc.setJobGroup("rerun", "rerun")
        again = run_extraction_job(spark, root, work, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert first["snapshots_processed"] == 3
    assert tracker.getJobIdsForGroup("first_run")
    assert len(before) == len(first["output_snapshots"]) >= 3
    assert shim.chain_manifests(output_root(work)) == before
    assert list(tracker.getJobIdsForGroup("rerun")) == []
    assert again["docs"] == 0 and again["buckets_processed"] == 0
    assert again["buckets_skipped"] == 3 * 64
    assert again["snapshots_processed"] == 0
    urls = [r.url for r in read_extracted(spark, work).select("url").collect()]
    assert len(set(urls)) == len(urls) == first["docs"]
