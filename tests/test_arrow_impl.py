"""The extraction runner (one mapInArrow stage behind ``extract_pages``)
must be row-for-row identical to the sequential reference,
``core.extract.extract_document``, run in this process. Byte-identical
text is the north rule, so equality is asserted on every output column
except extract_ms (a timing)."""

import json

from ocr_spark.core.extract import extract_document
from ocr_spark.operators.extraction import (
    EXTRACT_RESULT_SCHEMA, run_extraction, url_bucket,
)

COLS = [f.name for f in EXTRACT_RESULT_SCHEMA if f.name != "extract_ms"]


def _reference_row(url, raw, bucket):
    res = extract_document(url, raw)
    return {
        "url": url, "bucket": bucket, "kind": res.kind, "text": res.text,
        "n_pages": res.n_pages, "n_blocks": len(res.blocks),
        "n_spans": len(res.spans), "n_matches": len(res.matches),
        "n_blocks_dropped": res.n_blocks_dropped,
        "blocks_json": json.dumps(res.blocks, ensure_ascii=False),
        "spans_json": json.dumps(res.spans, ensure_ascii=False),
        "matches_json": json.dumps(res.matches, ensure_ascii=False),
        "error": res.error,
        "bytes_in": len(raw) if raw is not None else 0,
    }


def _assert_matches_reference(spark, rows, **kwargs):
    df = spark.createDataFrame(rows, "url string, html binary")
    buckets = {r.url: r.b for r in
               df.select("url", url_bucket().alias("b")).collect()}
    got = {r["url"]: r.asDict() for r in
           run_extraction(df, **kwargs).select(*COLS).collect()}
    assert len(got) == len(rows)
    for url, raw in rows:
        want = _reference_row(url, raw, buckets[url])
        assert got[url] == want, url
    return got


def test_arrow_impl_matches_sequential_reference(spark):
    from ocr_spark.gen.corpus import generate_pages

    rows = [(r["url"], r["html"])
            for r in generate_pages(120, seed=7, oversized_rows=0)]
    got = _assert_matches_reference(spark, rows, partitions=8,
                                    big_partitions=2)
    assert {g["kind"] for g in got.values()} >= {"html", "fixture"}


def test_arrow_impl_null_and_oversized_rows(spark):
    """NULL html routes to the kernel's null_html failure row, and the
    oversized route's output equals the reference too."""
    rows = [("doc://n1", None),
            ("doc://n2", b"<html><body><p>tiny page body of words "
                         b"with enough density to keep</p></body></html>"),
            ("doc://big", b"<html><body><p>"
                          + b"filler words and prose " * 150_000
                          + b"</p></body></html>")]
    got = _assert_matches_reference(spark, rows, partitions=2,
                                    big_partitions=1,
                                    big_threshold=100_000)
    assert got["doc://n1"]["error"] is not None
    assert got["doc://n2"]["error"] is None
    assert got["doc://big"]["error"] is None
    assert got["doc://big"]["bytes_in"] > 100_000
