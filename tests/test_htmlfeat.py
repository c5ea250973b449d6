"""Raw-page feature queries (plans/htmlfeat.py): plan-shape gates,
generator byte-parity through the SQL reconstruction, and the RRF
ensemble's rank algebra. Full value parity vs DuckDB is the driver
oracle's job; the digest test here pins the reconstruction CTE inside
pytest so wrap.py can never drift from the oracles silently."""

from __future__ import annotations

import re

SF = "/root/testdata/sf0.01"
SF_TINY = "/root/testdata/sf0.001"


def fmt(df) -> str:
    qe = df._jdf.queryExecution()
    return df._sc._jvm.org.apache.spark.sql.api.python.PythonSQLUtils \
        .explainString(qe, "formatted")


def n_shuffles(plan: str) -> int:
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def test_html_features_is_narrow_map(spark):
    """DOM-heuristic features are scan → project: zero shuffles, all
    regexp work JVM-side — the pre-extraction routing table must not
    cost a single exchange at 100 TB."""
    from ocr_spark.plans.htmlfeat import pages_html_features
    plan = fmt(pages_html_features(spark, SF))
    assert n_shuffles(plan) == 0


def test_wrap_digest_is_narrow_map(spark):
    from ocr_spark.plans.htmlfeat import pages_wrap_digest
    plan = fmt(pages_wrap_digest(spark, SF))
    assert n_shuffles(plan) == 0


def test_wrap_digest_matches_python_generator(spark):
    """Spark md5 over the UDF-wrapped bytes == hashlib md5 over
    wrap.py's output for the same doc — pins binary md5 semantics."""
    import hashlib

    from ocr_spark.gen.wrap import html_for_document
    from ocr_spark.plans.htmlfeat import pages_wrap_digest

    rows = {r["url"]: r for r in
            pages_wrap_digest(spark, SF_TINY).collect()}
    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet") \
        .select("doc_id", "text").limit(20).collect()
    for d in docs:
        raw = html_for_document(int(d["doc_id"]), d["text"] or "")
        got = rows[f"doc://{d['doc_id']}"]
        assert got["html_md5"] == hashlib.md5(raw).hexdigest()
        assert got["html_bytes"] == len(raw)


def test_wrap_digest_sql_reconstruction_byte_parity():
    """The oracle's pure-SQL page reconstruction is byte-identical to
    gen/wrap.py — the parity pin the whole _BLOCKS_CTE oracle family
    implicitly leans on."""
    import duckdb

    from ocr_spark.gen.wrap import html_for_document
    from ocr_spark.plans.htmlfeat import _HTML_CTE

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{SF_TINY}/documents.parquet'")
    got = con.sql(
        _HTML_CTE + "SELECT doc_id, html_str FROM page ORDER BY doc_id"
    ).fetchall()
    docs = dict(con.sql(
        "SELECT doc_id, text FROM documents").fetchall())
    assert len(got) == len(docs)
    for doc_id, html_str in got:
        expect = html_for_document(int(doc_id), docs[doc_id] or "")
        assert html_str.encode("utf-8") == expect, doc_id


def test_html_features_heuristics_sane(spark):
    """Every fixture page is boilerplate-laden by construction: the
    shell contributes >= 16 anchors, densities land in (0, 1)."""
    from ocr_spark.plans.htmlfeat import pages_html_features

    rows = pages_html_features(spark, SF_TINY).collect()
    assert rows
    for r in rows:
        assert r["n_anchors"] >= 16
        assert 0.0 < r["text_density"] < 1.0
        assert 0.0 < r["link_density"] < 1.0
        assert 0 < r["visible_chars"] < r["html_chars"] <= r["html_bytes"]
        assert r["anchor_chars"] > 0 and r["n_paragraphs"] >= 1


def test_extract_router_is_narrow_map_and_covers_routes(spark):
    """Routing must add nothing to the features' zero-shuffle plan,
    and both density routes must genuinely fire on the fixture corpus
    (a router that routes everything one way tests nothing)."""
    from ocr_spark.plans.htmlfeat import pages_extract_router
    df = pages_extract_router(spark, SF)
    assert n_shuffles(fmt(df)) == 0
    got = {r["route"] for r in df.select("route").distinct().collect()}
    assert {"extract", "link_heavy", "low_text"} <= got


def test_router_boundary_same_route_on_both_surfaces(spark):
    """The raw-html router (route_for_html, which the streaming
    router_sink applies) and the published router table threshold the
    SAME FEAT_ROUND-rounded densities. A page with
    1,000,001 visible chars, 350,000 of them anchor text, has a raw link
    density of 0.34999965: rounded it is 0.35, link_heavy on both
    surfaces. One anchor char fewer rounds to 0.349999 and extracts."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.htmlfeat import ROUTER_LINK_HEAVY, route_for_html

    def page(anchor_chars: int) -> bytes:
        return (b"<html><body><p>" + b"x" * (1_000_001 - anchor_chars)
                + b'</p><a href="#">' + b"y" * anchor_chars
                + b"</a></body></html>")

    pages = spark.createDataFrame(
        [("https://b.test/on", page(350_000)),
         ("https://b.test/below", page(349_999))], "url string, html binary")
    want = {"https://b.test/on": "link_heavy",
            "https://b.test/below": "extract"}
    job_side = {r.url: r.route for r in pages.select(
        "url", route_for_html(F.col("html")).alias("route")).collect()}
    assert job_side == want

    from ocr_spark.plans.htmlfeat import extract_router_frame
    table = {r.url: r for r in extract_router_frame(pages).collect()}
    assert table["https://b.test/on"].link_density == ROUTER_LINK_HEAVY
    assert {u: r.route for u, r in table.items()} == want


def test_cell_drift_shares_sum_to_one(spark):
    """Per-snapshot cell shares are exact-count ratios: each side sums
    to ~1 and uses every trained cell's population."""
    from ocr_spark.plans.simsearch import emb_cell_drift
    rows = emb_cell_drift(spark, SF_TINY).collect()
    assert rows
    assert abs(sum(r["share_old"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["share_new"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert abs((r["share_new"] - r["share_old"]) - r["share_delta"]) \
            < 2e-6


def test_quality_rrf_rank_algebra(spark):
    """Per-language ensemble ranks are a permutation of 1..n, and the
    fused score is exactly the per-row RRF sum of the three ranks."""
    from ocr_spark.plans.curation import RRF_K, docs_quality_rrf

    rows = docs_quality_rrf(spark, SF_TINY).collect()
    assert rows
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
        expect = round(sum(1.0 / (RRF_K + r[c]) for c in
                           ("r_heuristic", "r_classifier", "r_flesch")), 6)
        assert abs(r["rrf"] - expect) < 1e-12
    for lang, rs in by_lang.items():
        n = len(rs)
        assert sorted(r["ensemble_rank"] for r in rs) == list(range(1, n + 1))
        assert sorted(r["r_heuristic"] for r in rs) == list(range(1, n + 1))


def test_date_extract_precedence_routes_all_three_branches(spark):
    """The precedence column is load-bearing: JSON-LD beats meta beats
    none, and every branch genuinely occurs in the corpus. Where both
    structured sources exist they agree, so source choice is about
    provenance, not value divergence — pinned per doc_id class."""
    from ocr_spark.plans.htmlfeat import pages_date_extract
    rows = pages_date_extract(spark, SF_TINY).collect()
    by_src = {}
    for r in rows:
        did = int(r["url"].rsplit("/", 1)[-1])
        by_src.setdefault(r["date_source"], []).append(did)
        if did % 2 == 0:
            assert r["date_source"] == "jsonld"
        elif did % 3 != 1:
            assert r["date_source"] == "meta"
        else:
            assert r["date_source"] == "none" and r["pub_date"] is None
        if r["pub_date"] is not None:
            assert r["pub_date"].endswith(":00:00Z")
    assert set(by_src) == {"jsonld", "meta", "none"}


def test_structured_meta_jsonld_parsed_jvm_side(spark):
    """from_json projects the schema.org block into typed columns; the
    author name round-trips through the nested struct, and pages
    without JSON-LD yield NULLs, not empty strings."""
    from ocr_spark.plans.htmlfeat import pages_structured_meta
    rows = pages_structured_meta(spark, SF_TINY).collect()
    for r in rows:
        did = int(r["url"].rsplit("/", 1)[-1])
        assert r["og_title"] == f"Document {did} Report"
        if did % 2 == 0:
            assert r["headline"] == r["og_title"]
            assert r["author_name"] == f"Author {did % 20}"
            assert r["jsonld_type"] == (
                "NewsArticle" if did % 10 == 0 else "Article")
        else:
            assert r["jsonld_type"] is None and r["author_name"] is None


def test_table_extract_typed_rows_and_content_isolation(spark):
    """Cells land in typed columns (value is BIGINT, not text), row
    counts follow 2 + doc_id % 3, and the appendix table leaks nothing
    into extracted text (the wrap generator promise)."""
    from ocr_spark.core.html_extract import extract_html
    from ocr_spark.gen.wrap import (
        expected_text_for_document, html_for_document)
    from ocr_spark.plans.htmlfeat import pages_table_extract

    df = pages_table_extract(spark, SF_TINY)
    assert dict(df.dtypes)["value"] == "bigint"
    rows = df.collect()
    assert rows
    per_url = {}
    for r in rows:
        did = int(r["url"].rsplit("/", 1)[-1])
        assert did % 6 == 3
        per_url.setdefault(did, []).append(r)
        assert r["value"] == (did * 31 + (r["row_idx"] + 1) * 7) % 1000
    for did, rs in per_url.items():
        assert len(rs) == 2 + did % 3
    # content isolation: a table-bearing page still extracts byte-identically
    probe = "the probe body text with enough words to be content"
    text, _ = extract_html(html_for_document(3, probe).decode())
    assert text == expected_text_for_document(3, probe)
    assert "metric1" not in text


def test_consent_banner_detectors_and_isolation(spark):
    """Both detectors fire exactly on the doc_id % 9 == 5 cohort (the
    lexicon needs >= 2 phrase hits, which only banner pages reach),
    banner share is positive only there, and the banner never leaks
    into extracted text."""
    from ocr_spark.core.html_extract import extract_html
    from ocr_spark.gen.wrap import html_for_document
    from ocr_spark.plans.htmlfeat import pages_consent_banner

    rows = pages_consent_banner(spark, SF_TINY).collect()
    flagged = 0
    for r in rows:
        did = int(r.url.rsplit("/", 1)[-1])
        expect = did % 9 == 5
        assert r.has_banner_class == expect
        assert r.consent_wall == expect
        assert (r.lexicon_hits >= 2) == expect
        assert (r.banner_chars > 0) == expect
        assert (r.banner_share > 0) == expect
        flagged += expect
    assert flagged > 0
    text, _ = extract_html(html_for_document(
        14, "the probe body text with enough words here").decode())
    assert "cookies" not in text


def test_method_agreement_high_overlap_and_banner_leak(spark):
    """The two independent extractors (container-scoring kernel vs
    JusText block reconstruction) must agree strongly on this corpus
    (the article IS the main content), and the known JusText false
    positive — the stopword-dense cookie banner on doc_id%9==5 pages
    — must surface as a measurable len_ratio excess on exactly those
    pages, not as random noise."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.htmlfeat import pages_extract_method_agreement

    rows = pages_extract_method_agreement(
        spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 500
    jac = [r["token_jaccard"] for r in rows]
    assert sum(jac) / len(jac) > 0.7         # strong overall agreement
    banner = [r for r in rows
              if int(r["url"].rsplit("/", 1)[1]) % 9 == 5]
    clean = [r for r in rows
             if int(r["url"].rsplit("/", 1)[1]) % 9 != 5]
    mean_b = sum(r["len_ratio"] for r in banner) / len(banner)
    mean_c = sum(r["len_ratio"] for r in clean) / len(clean)
    assert mean_b > mean_c  # banner text leaks into the JusText side
