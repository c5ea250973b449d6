"""Structured Streaming: incremental extraction (exactly-once across
restarts), watermark windowed metrics, custom stateful counters."""

import os

import pandas as pd
import pytest

from ocr_spark.gen.corpus import generate_pages
from ocr_spark.streaming.ingest import (
    stream_extract, stream_host_counters, stream_host_sessions,
    stream_page_metrics,
)


def _write_pages_batch(spark, rows, path):
    df = spark.createDataFrame(
        [(r["url"], r["warc_ts"], bytearray(r["html"]), r["text"], r["lang"])
         for r in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    df.coalesce(1).write.mode("append").parquet(path)


@pytest.fixture()
def stream_dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("in", "out", "ckpt1", "ckpt2", "ckpt3")}
    os.makedirs(d["in"], exist_ok=True)
    return d


def test_stream_extract_incremental_exactly_once(spark, stream_dirs):
    rows = generate_pages(40, oversized_rows=0)
    _write_pages_batch(spark, rows[:25], stream_dirs["in"])

    q = stream_extract(spark, stream_dirs["in"], stream_dirs["out"],
                       stream_dirs["ckpt1"])
    q.awaitTermination()
    first = spark.read.parquet(stream_dirs["out"])
    assert first.count() == 25

    # second wave of files: ONLY the new ones are processed
    _write_pages_batch(spark, rows[25:], stream_dirs["in"])
    q = stream_extract(spark, stream_dirs["in"], stream_dirs["out"],
                       stream_dirs["ckpt1"])
    q.awaitTermination()
    result = spark.read.parquet(stream_dirs["out"])
    assert result.count() == 40
    # no duplicates: every url exactly once
    assert result.select("url").distinct().count() == 40
    # extraction output matches the batch kernel byte-for-byte
    from ocr_spark.core.extract import extract_document
    got = {r.url: r.text for r in result.collect()}
    for r in rows[:5]:
        assert got[r["url"]] == extract_document(r["url"], r["html"]).text


def test_stream_page_metrics_watermark(spark, stream_dirs):
    rows = generate_pages(30, oversized_rows=0)
    _write_pages_batch(spark, rows, stream_dirs["in"])
    q = stream_page_metrics(spark, stream_dirs["in"], stream_dirs["ckpt2"])
    q.awaitTermination()
    got = spark.sql("select * from page_metrics").toPandas()
    # append-mode with watermark emits only CLOSED windows; with a single
    # availableNow drain the final windows stay open, so emitted rows are
    # a prefix — validate consistency rather than totals
    assert set(got.columns) == {"window_start", "window_end", "lang",
                                "n_pages", "bytes_in"}
    if len(got):
        assert (got["n_pages"] > 0).all()
        assert (pd.to_datetime(got["window_end"])
                > pd.to_datetime(got["window_start"])).all()


def test_stream_host_counters_ttl_bounds_state(spark, tmp_path):
    """With ttl_ms set (continuous trigger — TTL + AvailableNow is
    rejected, see stream_host_counters), hosts idle past the TTL are
    evicted from the state store: under a rolling host population the
    state row count tracks the ACTIVE hosts, not every host ever seen."""
    import datetime
    import time

    import pytest

    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "counters_ttl")
    ckpt = str(tmp_path / "ckpt_ttl")
    os.makedirs(in_dir, exist_ok=True)
    ts = datetime.datetime(2025, 1, 1)

    def mk_rows(prefix, n):
        return [{"url": f"https://{prefix}{i}.test/page", "warc_ts": ts,
                 "html": b"<p>row for host %d</p>" % i, "text": "",
                 "lang": "en"} for i in range(n)]

    # the footgun pairing is rejected, not left to hang
    with pytest.raises(ValueError, match="AvailableNow"):
        stream_host_counters(spark, in_dir, out, ckpt, ttl_ms=500)

    def hosts_seen(prefix):
        try:
            pdf = spark.read.parquet(out).toPandas()
        except Exception:
            return set()
        return {h for h in pdf["host"] if h.startswith(prefix)}

    def wait_for(pred, timeout=60):
        t0 = time.time()
        while time.time() - t0 < timeout:
            if pred():
                return True
            time.sleep(0.5)
        return False

    _write_pages_batch(spark, mk_rows("a", 20), in_dir)
    q = stream_host_counters(spark, in_dir, out, ckpt, ttl_ms=1000,
                             trigger_interval="500 milliseconds")
    try:
        assert wait_for(lambda: len(hosts_seen("a")) == 20)
        time.sleep(2.0)  # let every wave-1 host's TTL expire + evict

        # rolling population: a disjoint host set arrives
        _write_pages_batch(spark, mk_rows("b", 20), in_dir)
        assert wait_for(lambda: len(hosts_seen("b")) == 20)
        time.sleep(1.0)  # one more batch so progress reflects eviction

        state_rows = [op["numRowsTotal"] for p in q.recentProgress
                      for op in (p.get("stateOperators") or [])]
        assert state_rows, "no state operator progress recorded"
        # without TTL the store would hold 40 (a* + b*); with eviction
        # the latest batches hold only the active wave-2 hosts
        assert min(state_rows[-3:]) <= 20, state_rows[-10:]
    finally:
        q.stop()


def test_stream_host_counters_stateful(spark, stream_dirs, tmp_path):
    out = str(tmp_path / "counters")
    rows = generate_pages(30, oversized_rows=0)
    _write_pages_batch(spark, rows[:15], stream_dirs["in"])
    q = stream_host_counters(spark, stream_dirs["in"], out,
                             stream_dirs["ckpt3"])
    q.awaitTermination()
    _write_pages_batch(spark, rows[15:], stream_dirs["in"])
    q = stream_host_counters(spark, stream_dirs["in"], out,
                             stream_dirs["ckpt3"])
    q.awaitTermination()

    got = spark.read.parquet(out).toPandas()
    # state persisted across the two runs: the LAST update row per host
    # carries the all-time totals
    latest = (got.groupby("host").agg({"docs_total": "max",
                                       "bytes_total": "max"}))
    import collections
    expect = collections.Counter()
    expect_bytes = collections.Counter()
    for r in rows:
        host = r["url"].split("/")[2]
        expect[host] += 1
        expect_bytes[host] += len(r["html"])
    for host, n in expect.items():
        assert latest.loc[host, "docs_total"] == n
        assert latest.loc[host, "bytes_total"] == expect_bytes[host]


def test_stream_extract_dedup_within_watermark(spark, stream_dirs):
    """Re-crawled urls inside the dedup window are extracted once;
    state is watermark-bounded (dropDuplicatesWithinWatermark), so a
    perpetual crawl can't grow url state without bound."""
    import datetime as dt

    from ocr_spark.streaming.ingest import stream_extract_dedup

    rows = generate_pages(20, oversized_rows=0)
    dups = []
    for r in rows[:10]:  # re-crawl of the same urls, 30s later
        d = dict(r)
        d["warc_ts"] = r["warc_ts"] + dt.timedelta(seconds=30)
        dups.append(d)
    _write_pages_batch(spark, rows + dups, stream_dirs["in"])

    q = stream_extract_dedup(spark, stream_dirs["in"], stream_dirs["out"],
                             stream_dirs["ckpt1"], dedup_window="10 minutes")
    q.awaitTermination()
    out = spark.read.parquet(stream_dirs["out"])
    assert out.count() == 20
    assert out.select("url").distinct().count() == 20


def test_stream_host_sessions_gap_and_watermark(spark, stream_dirs):
    """Native streaming session_window: events for one host with a gap
    wider than the session gap form TWO sessions; the first session
    emits (append mode) once a later batch advances the watermark past
    its end, the still-open tail stays in state."""
    from datetime import datetime

    def page(url, ts):
        return {"url": url, "warc_ts": ts, "html": b"<html><body>x",
                "text": None, "lang": "en"}

    t = lambda m, s=0: datetime(2024, 1, 1, 0, m, s)
    # session 1: two pages 1 min apart; session 2 starts 20 min later
    batch1 = [page("https://a.example/x", t(0)),
              page("https://a.example/y", t(1)),
              page("https://a.example/z", t(21))]
    _write_pages_batch(spark, batch1, stream_dirs["in"])
    q = stream_host_sessions(spark, stream_dirs["in"], stream_dirs["out"],
                             stream_dirs["ckpt3"],
                             watermark="10 minutes", gap="5 minutes")
    q.awaitTermination()
    # a much later event pushes the watermark beyond session 2's end
    _write_pages_batch(spark, [page("https://a.example/w", t(59))],
                       stream_dirs["in"])
    q = stream_host_sessions(spark, stream_dirs["in"], stream_dirs["out"],
                             stream_dirs["ckpt3"],
                             watermark="10 minutes", gap="5 minutes")
    q.awaitTermination()

    rows = sorted(spark.read.parquet(stream_dirs["out"]).collect(),
                  key=lambda r: r.session_start)
    assert [r.n_pages for r in rows] == [2, 1], rows
    assert all(r.host == "a.example" for r in rows)
    # gap semantics: session end = last event + gap
    assert (rows[0].session_end - rows[0].session_start).seconds == 6 * 60
    assert rows[0].session_start == t(0) and rows[1].session_start == t(21)


def test_stream_extract_near_dup_store(spark, tmp_path):
    """Streaming near-dup dedup against the accumulating signature
    store: wave 1 admits the wrapped docs and seeds the store; wave 2
    re-serves two of them under mirror urls (one with a small edit) —
    both must be dropped by the store probe, while a genuinely new doc
    passes. Batch-internal near-dups (two mirrors of the same doc in
    ONE wave) collapse to a single survivor."""
    from pyspark.sql import functions as F

    from ocr_spark.gen.wrap import html_for_document
    from ocr_spark.streaming.ingest import stream_extract_near_dup

    d = {k: str(tmp_path / k)
         for k in ("in", "out", "sigs", "ckpt")}
    os.makedirs(d["in"], exist_ok=True)

    docs = {r.doc_id: r.text for r in spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id").isin(3, 5, 11)).collect()}

    def page(url, doc_id, text):
        import datetime
        return {"url": url,
                "warc_ts": datetime.datetime(2025, 1, 1),
                "html": html_for_document(doc_id, text),
                "text": "", "lang": "en"}

    # wave 1: two originals + an in-batch mirror pair for doc 11
    wave1 = [
        page("doc://3", 3, docs[3]),
        page("doc://5", 5, docs[5]),
        page("doc://11", 11, docs[11]),
        page("doc://mirror/11", 11, docs[11]),   # in-batch near-dup
    ]
    _write_pages_batch(spark, wave1, d["in"])
    q = stream_extract_near_dup(spark, d["in"], d["out"], d["sigs"],
                                d["ckpt"])
    q.awaitTermination()
    out1 = {r.url for r in spark.read.parquet(d["out"])
            .select("url").collect()}
    assert "doc://3" in out1 and "doc://5" in out1
    # exactly one of the in-batch mirror pair survives (min url wins)
    assert "doc://11" in out1 and "doc://mirror/11" not in out1
    assert len(out1) == 3

    # wave 2: re-crawls of 3 (verbatim) and 5 (small edit) + new doc
    docs2 = {r.doc_id: r.text for r in spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") == 17).collect()}
    wave2 = [
        page("doc://recrawl/3", 3, docs[3]),
        page("doc://recrawl/5", 5,
             docs[5] + " tiny recrawl edit tail"),
        page("doc://17", 17, docs2[17]),
    ]
    _write_pages_batch(spark, wave2, d["in"])
    q = stream_extract_near_dup(spark, d["in"], d["out"], d["sigs"],
                                d["ckpt"])
    q.awaitTermination()
    out2 = {r.url for r in spark.read.parquet(d["out"])
            .select("url").collect()}
    assert "doc://17" in out2
    assert "doc://recrawl/3" not in out2
    assert "doc://recrawl/5" not in out2
    assert len(out2) == 4
    # the signature store holds exactly the admitted docs
    store = spark.read.parquet(d["sigs"])
    assert {r.url for r in store.select("url").collect()} == out2


def test_stream_near_dup_sink_idempotent(spark, tmp_path):
    """Exactly-once: re-delivering the SAME micro-batch (same batch_id
    — what Spark does after a crash between the output write and the
    checkpoint commit) must leave output and signature store
    byte-identical to a single delivery, and the batch must not
    near-dup-collide with its own half-committed signatures."""
    from pyspark.sql import functions as F

    from ocr_spark.gen.wrap import html_for_document
    from ocr_spark.operators.extraction import extract_pages
    from ocr_spark.streaming.ingest import near_dup_sink

    out_dir = str(tmp_path / "out")
    sig_dir = str(tmp_path / "sigs")

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet") \
        .filter(F.col("doc_id").isin(3, 5)).collect()
    import datetime
    rows = [{"url": f"doc://{r.doc_id}",
             "warc_ts": datetime.datetime(2025, 1, 1),
             "html": html_for_document(r.doc_id, r.text),
             "text": "", "lang": "en"} for r in docs]
    batch = extract_pages(spark.createDataFrame(rows))

    sink = near_dup_sink(out_dir, sig_dir)
    sink(batch, 0)
    first_out = sorted(r.url for r in
                       spark.read.parquet(out_dir).select("url").collect())
    # crash-replay: the SAME batch_id delivered again
    sink(batch, 0)
    second_out = sorted(r.url for r in
                        spark.read.parquet(out_dir).select("url").collect())
    assert first_out == second_out == ["doc://3", "doc://5"]
    sigs = spark.read.parquet(sig_dir)
    assert sorted(r.url for r in sigs.select("url").collect()) \
        == ["doc://3", "doc://5"]
    # a LATER batch with new content still probes the store normally
    docs2 = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet") \
        .filter(F.col("doc_id") == 3).collect()
    rows2 = [{"url": "doc://mirror/3",
              "warc_ts": datetime.datetime(2025, 1, 2),
              "html": html_for_document(3, docs2[0].text),
              "text": "", "lang": "en"}]
    batch2 = extract_pages(spark.createDataFrame(rows2))
    sink(batch2, 1)
    out = sorted(r.url for r in
                 spark.read.parquet(out_dir).select("url").collect())
    assert out == ["doc://3", "doc://5"]  # mirror dropped by the store


def test_compact_near_dup_store(spark, tmp_path):
    """Store compaction collapses per-batch partitions into batch=-1
    without changing probe verdicts: after compaction a mirror of an
    admitted doc is still dropped, and the store holds one partition."""
    import datetime

    from pyspark.sql import functions as F

    from ocr_spark.gen.wrap import html_for_document
    from ocr_spark.operators.extraction import extract_pages
    from ocr_spark.streaming.ingest import (
        compact_near_dup_store, near_dup_sink,
    )

    out_dir, sig_dir = str(tmp_path / "out"), str(tmp_path / "sigs")

    def batch_for(pairs):
        rows = [{"url": u,
                 "warc_ts": datetime.datetime(2025, 1, 1),
                 "html": html_for_document(d, t), "text": "",
                 "lang": "en"} for u, d, t in pairs]
        return extract_pages(spark.createDataFrame(rows))

    docs = {r.doc_id: r.text for r in spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id").isin(3, 5, 17)).collect()}
    sink = near_dup_sink(out_dir, sig_dir)
    sink(batch_for([("doc://3", 3, docs[3])]), 0)
    sink(batch_for([("doc://5", 5, docs[5])]), 1)

    res = compact_near_dup_store(spark, sig_dir)
    assert res["compacted_batches"] == 2 and res["rows"] == 2
    dirs = sorted(d for d in os.listdir(sig_dir) if d.startswith("batch="))
    assert dirs == ["batch=-1"]

    # probe still works against the consolidated store
    sink(batch_for([("doc://mirror/3", 3, docs[3]),
                    ("doc://17", 17, docs[17])]), 2)
    out = {r.url for r in spark.read.parquet(out_dir)
           .select("url").collect()}
    assert out == {"doc://3", "doc://5", "doc://17"}
    # compaction is re-runnable and absorbs the new batch
    res2 = compact_near_dup_store(spark, sig_dir)
    assert res2["rows"] == 3
    dirs = sorted(d for d in os.listdir(sig_dir) if d.startswith("batch="))
    assert dirs == ["batch=-1"]


def test_near_dup_sink_periodic_compaction(spark, tmp_path):
    """compact_every wires store maintenance into the sink itself:
    every N batches the per-batch partitions fold into batch=-1 with
    keep_last=1 protecting the just-written epoch, so a crash-replay
    of the TRIGGERING batch_id stays exactly-once (its own signatures
    are never folded where the batch != batch_id probe filter can see
    them), and later batches probe the consolidated store normally."""
    import datetime

    from pyspark.sql import functions as F

    from ocr_spark.gen.wrap import html_for_document
    from ocr_spark.operators.extraction import extract_pages
    from ocr_spark.streaming.ingest import near_dup_sink

    out_dir, sig_dir = str(tmp_path / "out"), str(tmp_path / "sigs")

    def batch_for(pairs):
        rows = [{"url": u,
                 "warc_ts": datetime.datetime(2025, 1, 1),
                 "html": html_for_document(d, t), "text": "",
                 "lang": "en"} for u, d, t in pairs]
        return extract_pages(spark.createDataFrame(rows))

    docs = {r.doc_id: r.text for r in spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id").isin(3, 5, 17, 23)).collect()}
    sink = near_dup_sink(out_dir, sig_dir, compact_every=2)

    sink(batch_for([("doc://3", 3, docs[3])]), 0)
    dirs = sorted(d for d in os.listdir(sig_dir) if d.startswith("batch="))
    assert dirs == ["batch=0"]  # (0+1) % 2 != 0 → no maintenance yet

    b1 = batch_for([("doc://5", 5, docs[5])])
    sink(b1, 1)  # triggers: batch 0 folds, batch 1 protected
    dirs = sorted(d for d in os.listdir(sig_dir) if d.startswith("batch="))
    assert dirs == ["batch=-1", "batch=1"]

    # crash-replay of the triggering epoch: output unchanged, no
    # self-collision against batch=-1 (which must not hold doc://5)
    sink(b1, 1)
    out = sorted(r.url for r in spark.read.parquet(out_dir)
                 .select("url").collect())
    assert out == ["doc://3", "doc://5"]
    dirs = sorted(d for d in os.listdir(sig_dir) if d.startswith("batch="))
    assert dirs == ["batch=-1", "batch=1"]

    # a later batch probes the consolidated store: a mirror of the
    # compacted doc://3 is dropped, fresh content admitted
    sink(batch_for([("doc://mirror/3", 3, docs[3]),
                    ("doc://17", 17, docs[17])]), 2)
    out = sorted(r.url for r in spark.read.parquet(out_dir)
                 .select("url").collect())
    assert out == ["doc://17", "doc://3", "doc://5"]
    # next trigger absorbs batches 1 and 2's survivors
    sink(batch_for([("doc://23", 23, docs[23])]), 3)
    store = spark.read.parquet(sig_dir)
    assert {r.url for r in store.select("url").collect()} \
        == {"doc://3", "doc://5", "doc://17", "doc://23"}


def test_stream_wat_export_matches_batch(spark, tmp_path):
    """Streaming WAT records are byte-identical to the batch query's
    for the same pages (shared wat_columns builder)."""
    import datetime

    from pyspark.sql import functions as F

    from ocr_spark.gen.wrap import html_for_document
    from ocr_spark.plans.indexing import pages_wat_export
    from ocr_spark.streaming.ingest import stream_wat_export

    d = {k: str(tmp_path / k) for k in ("in", "out", "ckpt")}
    os.makedirs(d["in"], exist_ok=True)
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet") \
        .filter(F.col("doc_id").isin(2, 7, 11)).collect()
    rows = [{"url": f"doc://{r.doc_id}",
             "warc_ts": datetime.datetime(2025, 1, 1),
             "html": html_for_document(r.doc_id, r.text),
             "text": r.text, "lang": "en"} for r in docs]
    _write_pages_batch(spark, rows, d["in"])
    q = stream_wat_export(spark, d["in"], d["out"], d["ckpt"])
    q.awaitTermination()

    got = sorted(r.value for r in spark.read.text(d["out"]).collect())
    exp = sorted(r.wat_record for r in
                 pages_wat_export(spark, "/root/testdata/sf0.001")
                 .filter(F.col("url").isin("doc://2", "doc://7",
                                           "doc://11")).collect())
    assert got == exp and len(got) == 3


def test_stream_quality_gate_matches_batch_kernel(spark, tmp_path):
    """The streaming filter stage's verdicts equal the batch Gopher
    kernel applied to the same extracted text (shared frame kernel),
    with the detected language carried through."""
    import datetime

    from pyspark.sql import functions as F

    from ocr_spark.gen.wrap import html_for_document
    from ocr_spark.plans.dataops import gopher_gate_frame
    from ocr_spark.streaming.ingest import stream_quality_gate

    d = {k: str(tmp_path / k) for k in ("in", "out", "ckpt")}
    os.makedirs(d["in"], exist_ok=True)
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet") \
        .filter(F.col("doc_id").isin(2, 7, 11, 23)).collect()
    rows = [{"url": f"doc://{r.doc_id}",
             "warc_ts": datetime.datetime(2025, 1, 1),
             "html": html_for_document(r.doc_id, r.text),
             "text": "", "lang": "en"} for r in docs]
    _write_pages_batch(spark, rows, d["in"])
    q = stream_quality_gate(spark, d["in"], d["out"], d["ckpt"])
    q.awaitTermination()

    got = {r.url: (r.n_words, r.mean_word_len, r.alpha_frac,
                   r.distinct_stop_hits, r.keep, r.lang)
           for r in spark.read.parquet(d["out"]).collect()}
    assert len(got) == 4 and any(v[4] for v in got.values())

    # batch kernel over the same extracted text must agree exactly
    from ocr_spark.operators.extraction import run_extraction

    pages = spark.createDataFrame(rows).select(
        "url", "warc_ts", "html", "text", "lang")
    extracted = run_extraction(pages, partitions=4, big_partitions=1) \
        .filter(F.col("error").isNull())
    batch = {r.url: (r.n_words, r.mean_word_len, r.alpha_frac,
                     r.distinct_stop_hits, r.keep)
             for r in gopher_gate_frame(extracted, "url").collect()}
    assert {u: v[:5] for u, v in got.items()} == batch


def test_stream_cdx_index_matches_batch_rows(spark, tmp_path):
    """Streaming CDX index runs are row-identical to the batch index
    for the same pages (shared cdx_columns builder), land under
    batch_id-keyed partitions, and re-running the drained query adds
    nothing (exactly-once via the streaming checkpoint)."""
    import datetime

    from pyspark.sql import functions as F

    from ocr_spark.gen.wrap import html_for_document
    from ocr_spark.plans.indexing import pages_cdx_index
    from ocr_spark.streaming.ingest import stream_cdx_index

    d = {k: str(tmp_path / k) for k in ("in", "out", "ckpt")}
    os.makedirs(d["in"], exist_ok=True)

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet") \
        .filter(F.col("doc_id").isin(2, 7, 11)).collect()
    rows = [{"url": f"doc://{r.doc_id}",
             "warc_ts": datetime.datetime(2025, 1, 1),
             "html": html_for_document(r.doc_id, r.text),
             "text": r.text, "lang": "en"} for r in docs]
    _write_pages_batch(spark, rows, d["in"])
    q = stream_cdx_index(spark, d["in"], d["out"], d["ckpt"])
    q.awaitTermination()

    cols = ["surt_key", "ts14", "url", "canonical_url", "mime",
            "status", "content_digest", "text_bytes"]
    got = sorted(tuple(r) for r in
                 spark.read.parquet(d["out"]).select(*cols).collect())
    exp = sorted(tuple(r) for r in
                 pages_cdx_index(spark, "/root/testdata/sf0.001")
                 .filter(F.col("url").isin("doc://2", "doc://7",
                                           "doc://11"))
                 .select(*cols).collect())
    assert got == exp and len(got) == 3

    # drained re-run: checkpoint remembers the files — no new batches
    q2 = stream_cdx_index(spark, d["in"], d["out"], d["ckpt"])
    q2.awaitTermination()
    again = sorted(tuple(r) for r in
                   spark.read.parquet(d["out"]).select(*cols).collect())
    assert again == exp


def test_stream_wet_export_matches_batch_records(spark, tmp_path):
    """Streaming WET records are byte-identical to the batch query's
    records for the same pages (shared header literals + octet_length),
    and the native file sink is append-exactly-once."""
    from pyspark.sql import functions as F

    from ocr_spark.gen.wrap import html_for_document
    from ocr_spark.plans.webops import pages_wet_export
    from ocr_spark.streaming.ingest import stream_wet_export

    d = {k: str(tmp_path / k) for k in ("in", "out", "ckpt")}
    os.makedirs(d["in"], exist_ok=True)

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet") \
        .filter(F.col("doc_id").isin(2, 7, 11)).collect()
    import datetime
    rows = [{"url": f"doc://{r.doc_id}",
             "warc_ts": datetime.datetime(2025, 1, 1),
             "html": html_for_document(r.doc_id, r.text),
             "text": "", "lang": "en"} for r in docs]
    _write_pages_batch(spark, rows, d["in"])
    q = stream_wet_export(spark, d["in"], d["out"], d["ckpt"])
    q.awaitTermination()

    got = {}
    streamed = spark.read.text(d["out"], wholetext=True).collect()
    # wholetext per file; records may share a file — split on the
    # header sentinel and reassemble keyed by target URI
    blob = "\n".join(r.value for r in streamed)
    for rec in blob.split("WARC/1.0"):
        if "WARC-Target-URI: " not in rec:
            continue
        url = rec.split("WARC-Target-URI: ")[1].split("\r\n")[0]
        got[url] = ("WARC/1.0" + rec).rstrip("\n")

    expected = {r.url: r.wet_record for r in
                pages_wet_export(spark, "/root/testdata/sf0.001")
                .filter(F.col("url").isin("doc://2", "doc://7",
                                          "doc://11")).collect()}
    assert set(got) == set(expected)
    for url in expected:
        assert got[url] == expected[url], url


def test_stream_hll_sketch_store_matches_batch_registers(spark, tmp_path):
    """The streaming sketch store, consolidated by elementwise max
    across its per-batch partitions, equals the from-scratch register
    frame over everything ingested (two separate micro-batches), and a
    drained re-run adds no batch partitions (exactly-once via the
    streaming checkpoint)."""
    import datetime

    from pyspark.sql import functions as F

    from ocr_spark.gen.wrap import html_for_document
    from ocr_spark.plans.sketches import _register_frame
    from ocr_spark.streaming.ingest import (
        hll_store_registers, stream_hll_sketch,
    )

    d = {k: str(tmp_path / k) for k in ("in", "store", "ckpt")}
    os.makedirs(d["in"], exist_ok=True)

    docs = {r.doc_id: r.text for r in spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id").isin(2, 11, 13, 22)).collect()}

    def rows(ids):
        return [{"url": f"doc://{i}",
                 "warc_ts": datetime.datetime(2025, 1, 1),
                 "html": html_for_document(i, docs[i]),
                 "text": docs[i], "lang": "en"} for i in ids]

    _write_pages_batch(spark, rows([2, 11]), d["in"])
    stream_hll_sketch(spark, d["in"], d["store"], d["ckpt"]) \
        .awaitTermination()
    _write_pages_batch(spark, rows([13, 22]), d["in"])
    stream_hll_sketch(spark, d["in"], d["store"], d["ckpt"]) \
        .awaitTermination()

    batches = {p for p in os.listdir(d["store"]) if p.startswith("batch=")}
    assert len(batches) == 2

    # expectation: the from-scratch register frame over the SAME
    # extracted texts (extraction adds the wrap's heading block, so
    # run the pure-Python kernel, not the raw source text)
    from ocr_spark.core.extract import extract_document
    texts = [extract_document(f"doc://{i}",
                              html_for_document(i, docs[i])).text
             for i in docs]
    exp = {(r.reg, r.m_reg) for r in _register_frame(
        spark.createDataFrame([(t,) for t in texts],
                              "text string")).collect()}
    got = {(r.reg, r.m_reg)
           for r in hll_store_registers(spark, d["store"]).collect()}
    assert got == exp

    # drained re-run: no new batch partitions, store unchanged
    stream_hll_sketch(spark, d["in"], d["store"], d["ckpt"]) \
        .awaitTermination()
    assert {p for p in os.listdir(d["store"])
            if p.startswith("batch=")} == batches
    assert {(r.reg, r.m_reg) for r in
            hll_store_registers(spark, d["store"]).collect()} == exp


def test_stream_cms_sketch_store_matches_batch_counters(spark, tmp_path):
    """The streaming CMS store, consolidated by elementwise SUM across
    its per-batch partitions, equals the from-scratch counter frame
    over everything ingested (two separate micro-batches — the
    counter-ADD algebra docs_cms_snapshot_merge pins), and a drained
    re-run adds no batch partitions."""
    import datetime

    from pyspark.sql import functions as F

    from ocr_spark.gen.wrap import html_for_document
    from ocr_spark.plans.sketches import _cms_frame, _tok_col
    from ocr_spark.streaming.ingest import (
        cms_store_counters, stream_cms_sketch,
    )

    d = {k: str(tmp_path / k) for k in ("in", "store", "ckpt")}
    os.makedirs(d["in"], exist_ok=True)

    docs = {r.doc_id: r.text for r in spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id").isin(2, 11, 13, 22)).collect()}

    def rows(ids):
        return [{"url": f"doc://{i}",
                 "warc_ts": datetime.datetime(2025, 1, 1),
                 "html": html_for_document(i, docs[i]),
                 "text": docs[i], "lang": "en"} for i in ids]

    _write_pages_batch(spark, rows([2, 11]), d["in"])
    stream_cms_sketch(spark, d["in"], d["store"], d["ckpt"]) \
        .awaitTermination()
    _write_pages_batch(spark, rows([13, 22]), d["in"])
    stream_cms_sketch(spark, d["in"], d["store"], d["ckpt"]) \
        .awaitTermination()

    batches = {p for p in os.listdir(d["store"]) if p.startswith("batch=")}
    assert len(batches) == 2

    from ocr_spark.core.extract import extract_document
    texts = [extract_document(f"doc://{i}",
                              html_for_document(i, docs[i])).text
             for i in docs]
    exp = {(r.r, r.b, r.counter) for r in _cms_frame(
        spark.createDataFrame([(t,) for t in texts], "text string")
        .select(_tok_col())).collect()}
    got = {(r.r, r.b, r.counter)
           for r in cms_store_counters(spark, d["store"]).collect()}
    assert got == exp

    # drained re-run: no new batch partitions, store unchanged
    stream_cms_sketch(spark, d["in"], d["store"], d["ckpt"]) \
        .awaitTermination()
    assert {p for p in os.listdir(d["store"])
            if p.startswith("batch=")} == batches
    assert {(r.r, r.b, r.counter) for r in
            cms_store_counters(spark, d["store"]).collect()} == exp


def test_stream_kmv_sketch_store_matches_batch_frame(spark, tmp_path):
    """The streaming KMV store, consolidated as bottom-k of the union
    of its per-batch frames, equals the from-scratch bottom-k frame
    over everything ingested (two separate micro-batches — the
    semilattice combine docs_kmv_distinct pins), and a drained re-run
    adds no batch partitions."""
    import datetime

    from pyspark.sql import functions as F

    from ocr_spark.gen.wrap import html_for_document
    from ocr_spark.plans.sketches import KMV_K, _kmv_frame, _tok_col
    from ocr_spark.streaming.ingest import kmv_store_frame, stream_kmv_sketch

    d = {k: str(tmp_path / k) for k in ("in", "store", "ckpt")}
    os.makedirs(d["in"], exist_ok=True)

    docs = {r.doc_id: r.text for r in spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id").isin(2, 11, 13, 22)).collect()}

    def rows(ids):
        return [{"url": f"doc://{i}",
                 "warc_ts": datetime.datetime(2025, 1, 1),
                 "html": html_for_document(i, docs[i]),
                 "text": docs[i], "lang": "en"} for i in ids]

    _write_pages_batch(spark, rows([2, 11]), d["in"])
    stream_kmv_sketch(spark, d["in"], d["store"], d["ckpt"]) \
        .awaitTermination()
    _write_pages_batch(spark, rows([13, 22]), d["in"])
    stream_kmv_sketch(spark, d["in"], d["store"], d["ckpt"]) \
        .awaitTermination()

    batches = {p for p in os.listdir(d["store"]) if p.startswith("batch=")}
    assert len(batches) == 2

    from ocr_spark.core.extract import extract_document
    texts = [extract_document(f"doc://{i}",
                              html_for_document(i, docs[i])).text
             for i in docs]
    exp = [r.h for r in _kmv_frame(
        spark.createDataFrame([(t,) for t in texts], "text string")
        .select(_tok_col()), KMV_K).collect()]
    got = [r.h for r in kmv_store_frame(spark, d["store"]).collect()]
    assert len(exp) == KMV_K  # fixture has >= k distinct tokens
    assert got == exp

    # drained re-run: no new batch partitions, store unchanged
    stream_kmv_sketch(spark, d["in"], d["store"], d["ckpt"]) \
        .awaitTermination()
    assert {p for p in os.listdir(d["store"])
            if p.startswith("batch=")} == batches
    assert [r.h for r in
            kmv_store_frame(spark, d["store"]).collect()] == exp


def test_stream_dedup_under_rocksdb_state_store(spark, stream_dirs):
    """The stateful url-dedup runs unchanged under the RocksDB state
    store provider and reproduces the default provider's output
    exactly. This is the production configuration for unbounded-state
    streams: the default HDFSBackedStateStoreProvider holds all url
    state in executor HEAP (the thing that OOMs a perpetual crawl),
    RocksDB keeps it on executor-local disk with block-cache reads —
    same semantics, memory bounded regardless of state size."""
    import datetime as dt

    from ocr_spark.streaming.ingest import stream_extract_dedup

    rows = generate_pages(20, oversized_rows=0)
    dups = []
    for r in rows[:10]:
        d = dict(r)
        d["warc_ts"] = r["warc_ts"] + dt.timedelta(seconds=30)
        dups.append(d)
    _write_pages_batch(spark, rows + dups, stream_dirs["in"])

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    out2 = stream_dirs["out"] + "_rocks"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    # default provider run
    q = stream_extract_dedup(spark, stream_dirs["in"], stream_dirs["out"],
                             stream_dirs["ckpt1"], dedup_window="10 minutes")
    q.awaitTermination()
    spark.conf.set(key, rocks)
    try:
        q = stream_extract_dedup(spark, stream_dirs["in"], out2,
                                 stream_dirs["ckpt2"],
                                 dedup_window="10 minutes")
        q.awaitTermination()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    base = spark.read.parquet(stream_dirs["out"])
    rocksdb_out = spark.read.parquet(out2)
    assert rocksdb_out.count() == base.count() == 20
    assert ({r.url for r in rocksdb_out.select("url").collect()}
            == {r.url for r in base.select("url").collect()})
    # the RocksDB provider actually engaged: its checkpoint layout
    # carries per-partition rocksdb state directories
    found = []
    for root, dirs, files in os.walk(stream_dirs["ckpt2"]):
        found.extend(d for d in dirs if d == "rocksdb")
        found.extend(f for f in files if "rocksdb" in f.lower()
                     or f.endswith(".sst") or f == "CURRENT")
    assert found, "no rocksdb artifacts under the checkpoint"


def test_stream_near_dup_state_remembers_across_batches(spark, stream_dirs):
    """The state-store near-dup variant: batch 2 re-sends 8 of batch
    1's pages under NEW urls (the mirror case url-dedup cannot see).
    The keyed state must remember batch 1's signatures — every mirror
    flags with estimate 1.0 against its original url, genuinely new
    pages pass, and batch 1 itself is all-clear."""
    from pyspark.sql import functions as F

    from ocr_spark.streaming.ingest import stream_near_dup_state

    rows = generate_pages(25, oversized_rows=0)
    _write_pages_batch(spark, rows[:20], stream_dirs["in"])
    q = stream_near_dup_state(spark, stream_dirs["in"], stream_dirs["out"],
                              stream_dirs["ckpt1"])
    q.awaitTermination()
    first = spark.read.parquet(stream_dirs["out"])
    assert first.filter(F.col("is_dup") == "true").count() == 0

    mirrors = []
    for r in rows[:8]:
        d = dict(r)
        d["url"] = r["url"].replace("doc://", "mirror://")
        mirrors.append(d)
    _write_pages_batch(spark, mirrors + rows[20:], stream_dirs["in"])
    q = stream_near_dup_state(spark, stream_dirs["in"], stream_dirs["out"],
                              stream_dirs["ckpt1"])
    q.awaitTermination()

    out = spark.read.parquet(stream_dirs["out"])
    second = out.filter(F.col("batch_id") >= 1)
    per_url = (second.groupBy("url")
               .agg(F.max("best_est").alias("best"),
                    F.max("is_dup").alias("dup"),
                    F.max("matched_url").alias("matched"))
               .collect())
    got = {r["url"]: r for r in per_url}
    for m in mirrors:
        r = got[m["url"]]
        assert r["dup"] == "true" and r["best"] == "1.0000"
        assert r["matched"] == m["url"].replace("mirror://", "doc://")
    for n in rows[20:]:
        assert got[n["url"]]["dup"] == "false"


def test_stream_extract_dlq_routing_and_exactly_once(spark, stream_dirs):
    """Clean rows land in output, malformed rows land in quarantine
    with the FIRST failing constraint named, nothing vanishes, and
    re-delivering the same epoch leaves both sides identical."""
    from ocr_spark.streaming.ingest import dlq_sink, stream_extract_dlq

    rows = generate_pages(20, oversized_rows=0)
    # two malformed pages: undecodable bytes (extract error) and a
    # page with no extractable content (empty text)
    rows.append({"url": "doc://bad-bytes", "warc_ts": rows[0]["warc_ts"],
                 "html": b"\xff\xfe\xff invalid \xff",
                 "text": "", "lang": "en"})
    rows.append({"url": "doc://no-content", "warc_ts": rows[0]["warc_ts"],
                 "html": b"<html><body><nav>only chrome</nav></body></html>",
                 "text": "", "lang": "en"})
    _write_pages_batch(spark, rows, stream_dirs["in"])

    qdir = str(os.path.join(os.path.dirname(stream_dirs["out"]), "dlq"))
    q = stream_extract_dlq(spark, stream_dirs["in"], stream_dirs["out"],
                           qdir, stream_dirs["ckpt1"])
    q.awaitTermination()

    good = spark.read.parquet(stream_dirs["out"])
    bad = spark.read.parquet(qdir)
    assert good.count() + bad.count() == len(rows)   # nothing vanishes
    good_urls = {r.url for r in good.select("url").collect()}
    reasons = {r.url: r.dlq_reason for r in bad.collect()}
    assert "doc://bad-bytes" not in good_urls
    assert "doc://no-content" not in good_urls
    assert reasons["doc://no-content"] == "empty_text"
    assert reasons["doc://bad-bytes"] in ("extract_error", "empty_text")
    assert len(good_urls) == len(rows) - len(reasons)

    # exactly-once: re-running the sink body with the same batch_id
    # replaces partitions with identical content
    batch_dir = sorted(os.listdir(qdir))[0]
    before = sorted(
        (r.url, r.dlq_reason) for r in
        spark.read.parquet(os.path.join(qdir, batch_dir)).collect())
    sink = dlq_sink(stream_dirs["out"], qdir)
    bid = int(batch_dir.split("=")[1])
    full = spark.read.parquet(
        os.path.join(stream_dirs["out"], batch_dir)).unionByName(
        spark.read.parquet(os.path.join(qdir, batch_dir))
        .drop("dlq_reason")).localCheckpoint()  # break file lineage:
    # the sink overwrites the very files this frame was read from
    sink(full, bid)
    after = sorted(
        (r.url, r.dlq_reason) for r in
        spark.read.parquet(os.path.join(qdir, batch_dir)).collect())
    assert after == before
    assert spark.read.parquet(stream_dirs["out"]).count() == len(good_urls)


def test_stream_validation_gate_fails_batch_and_resumes(spark, stream_dirs):
    """Round-4 verdict #6: the streaming promotion gate runs the batch
    job's FULL constraint suite per micro-batch with a fail-the-batch
    policy — a constraint-failed batch commits NOTHING to the output
    table (vs dlq row routing), its gate verdict lands in lineage,
    and the stream resumes cleanly: a later clean batch commits, the
    failed batch stays uncommitted, and re-delivering the failed
    epoch re-evaluates to the identical verdict."""
    from ocr_spark.streaming.ingest import (
        stream_extract_validated, validation_gate_sink)

    out, lineage = stream_dirs["out"], str(
        os.path.join(os.path.dirname(stream_dirs["out"]), "gate_lineage"))

    # batch 0: clean → commits
    clean = generate_pages(20, oversized_rows=0)
    _write_pages_batch(spark, clean, stream_dirs["in"])
    q = stream_extract_validated(spark, stream_dirs["in"], out, lineage,
                                 stream_dirs["ckpt1"])
    q.awaitTermination()

    # batch 1: poisoned — error rate far above the 5% bound
    poison = generate_pages(5, seed=7, oversized_rows=0)
    for i in range(10):
        poison.append({"url": f"doc://bad-{i}",
                       "warc_ts": clean[0]["warc_ts"],
                       "html": b"\xff\xfe\xff invalid \xff",
                       "text": "", "lang": "en"})
    _write_pages_batch(spark, poison, stream_dirs["in"])
    q = stream_extract_validated(spark, stream_dirs["in"], out, lineage,
                                 stream_dirs["ckpt1"])
    q.awaitTermination()

    # batch 2 (post-failure restart): clean again → commits
    clean2 = generate_pages(10, seed=11, oversized_rows=0)
    clean2 = [dict(r, url=r["url"] + "?v=2") for r in clean2]
    _write_pages_batch(spark, clean2, stream_dirs["in"])
    q = stream_extract_validated(spark, stream_dirs["in"], out, lineage,
                                 stream_dirs["ckpt1"])
    q.awaitTermination()

    committed = spark.read.parquet(out)
    urls = {r.url for r in committed.select("url").collect()}
    # the failed batch contributed NOTHING; both clean batches fully in
    assert urls == ({r["url"] for r in clean}
                    | {r["url"] for r in clean2})
    data_batches = {int(d.split("=")[1]) for d in os.listdir(out)
                    if d.startswith("batch_id=")}
    assert data_batches == {0, 2}

    lin = spark.read.parquet(lineage)
    pdf = lin.toPandas()
    assert set(pdf["batch_id"]) == {0, 1, 2}   # verdicts for ALL batches
    by_batch = {b: g for b, g in pdf.groupby("batch_id")}
    assert bool(by_batch[0]["batch_committed"].all())
    assert not bool(by_batch[1]["batch_committed"].any())
    assert bool(by_batch[2]["batch_committed"].all())
    failed_rows = by_batch[1][~by_batch[1]["passed"]]
    # undecodable bytes extract to empty text/zero blocks (not an
    # extract error), so the gate trips on the success-row constraints
    assert {"text_present_on_success",
            "blocks_positive_on_success"} <= set(failed_rows["constraint"])

    # exactly-once on the FAILED epoch: re-delivering batch 1's frame
    # through the sink body re-evaluates to the identical verdict and
    # still commits nothing
    from ocr_spark.operators.extraction import extract_pages
    pages = spark.createDataFrame(
        [(r["url"], r["warc_ts"], bytearray(r["html"]), r["text"],
          r["lang"]) for r in poison],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    frame = extract_pages(pages).localCheckpoint()
    before = sorted(map(tuple, pdf[pdf["batch_id"] == 1]
                        [["constraint", "violations", "passed"]]
                        .itertuples(index=False)))
    validation_gate_sink(out, lineage)(frame, 1)
    after_pdf = spark.read.parquet(lineage).toPandas()
    after = sorted(map(tuple, after_pdf[after_pdf["batch_id"] == 1]
                       [["constraint", "violations", "passed"]]
                       .itertuples(index=False)))
    assert after == before
    assert {int(d.split("=")[1]) for d in os.listdir(out)
            if d.startswith("batch_id=")} == {0, 2}


def test_stream_routed_matches_batch_router_and_censuses(spark, stream_dirs):
    """The streaming router commits extraction output for EXACTLY the
    pages the published batch router keeps, never extracts condemned
    pages, and the per-batch route census accounts for every input
    page (nothing silently vanishes at the routing stage)."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.htmlfeat import route_for_html
    from ocr_spark.streaming.ingest import stream_extract_routed

    rows = generate_pages(40, oversized_rows=1)
    _write_pages_batch(spark, rows, stream_dirs["in"])
    out = stream_dirs["out"]
    lineage = str(os.path.join(os.path.dirname(out), "route_census"))

    q = stream_extract_routed(spark, stream_dirs["in"], out, lineage,
                              stream_dirs["ckpt1"])
    q.awaitTermination()

    pages = spark.createDataFrame(
        [(r["url"], bytearray(r["html"])) for r in rows],
        "url string, html binary")
    expect = {r.url: r.route for r in pages.select(
        "url", route_for_html(F.col("html")).alias("route")).collect()}
    keep = {u for u, r in expect.items() if r in ("extract", "oversized")}

    got = {r.url for r in spark.read.parquet(out).select("url").collect()}
    assert got == keep

    census = spark.read.parquet(lineage).collect()
    assert sum(r.n_pages for r in census) == len(rows)  # full accounting
    by_route = {r.route: r.n_pages for r in census}
    from collections import Counter
    assert by_route == dict(Counter(expect.values()))


def test_stream_quality_psi_flags_distribution_shift(spark, stream_dirs,
                                                     tmp_path):
    """The streaming PSI monitor stays quiet on a batch drawn from the
    reference distribution and flags (>0.25) a batch whose score
    distribution collapsed (OOV-only spam pages all score
    sigmoid(bias)); exactly-once under re-delivery."""
    from pyspark.sql import functions as F

    from ocr_spark.gen.wrap import html_for_document
    from ocr_spark.operators.extraction import run_extraction
    from ocr_spark.streaming.ingest import (
        quality_reference_counts, stream_quality_psi)

    ref_dir = str(tmp_path / "ref")
    out = stream_dirs["out"]

    # committed reference: the standard corpus's score histogram
    rows = generate_pages(60, oversized_rows=0)
    pages = spark.createDataFrame(
        [(r["url"], r["warc_ts"], bytearray(r["html"]), r["text"],
          r["lang"]) for r in rows],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    extracted = run_extraction(pages, partitions=4, big_partitions=1)
    quality_reference_counts(extracted).write.parquet(ref_dir)

    # batch 0: more standard pages -> in-distribution
    _write_pages_batch(spark, generate_pages(30, seed=5,
                                             oversized_rows=0),
                       stream_dirs["in"])
    q = stream_quality_psi(spark, stream_dirs["in"], ref_dir, out,
                           stream_dirs["ckpt1"])
    q.awaitTermination()

    # batch 1: low-quality wave — text drawn from the classifier's
    # NEGATIVE vocabulary (mean weight ~-4.4 -> score ~0.34, a lower
    # bin than the standard corpus's ~0.45-0.55 mass)
    import datetime
    spam = [{"url": f"spam://{i}",
             "warc_ts": datetime.datetime(2025, 1, 1),
             "html": html_for_document(
                 i, "slow a the big slow row a the slow slow " * 20),
             "text": "", "lang": "en"} for i in range(25)]
    _write_pages_batch(spark, spam, stream_dirs["in"])
    q = stream_quality_psi(spark, stream_dirs["in"], ref_dir, out,
                           stream_dirs["ckpt1"])
    q.awaitTermination()

    got = {int(d.split("=")[1]):
           spark.read.parquet(os.path.join(out, d)).collect()[0]
           for d in sorted(os.listdir(out)) if d.startswith("batch_id=")}
    assert set(got) == {0, 1}
    assert not got[0].flagged, got[0]
    assert got[1].flagged and got[1].psi > 0.25, got[1]

    # exactly-once: re-delivering the spam epoch reproduces the row
    from ocr_spark.streaming.ingest import psi_sink
    frame = spark.createDataFrame(
        [(r["url"], r["warc_ts"], bytearray(r["html"]), r["text"],
          r["lang"]) for r in spam],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string").localCheckpoint()
    before = got[1].asDict()
    psi_sink(ref_dir, out)(frame, 1)
    after = spark.read.parquet(
        os.path.join(out, "batch_id=1")).collect()[0].asDict()
    assert after == before
