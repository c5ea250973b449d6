"""Model-artifact slot-in dry run (U1/U2 seam): a real artifact file
loads executor-lazily exactly once per worker and scores Arrow batches
deterministically."""

import json

from ocr_spark.gen.corpus import generate_pages
from ocr_spark.operators.inference import (
    DEFAULT_ARTIFACT, _load_model, run_layout_scoring, score_bytes,
)


def test_artifact_loads_once_per_worker_and_scores_match(spark):
    rows = generate_pages(120, seed=3, oversized_rows=0)
    df = spark.createDataFrame(
        [(r["url"], r["html"]) for r in rows], "url string, html binary")
    got = {r.url: r for r in
           run_layout_scoring(df.repartition(8)).collect()}
    assert len(got) == 120

    # deterministic parity with the pure-Python scorer
    model = _load_model(DEFAULT_ARTIFACT)
    for r in rows[:20]:
        assert got[r["url"]].score == score_bytes(r["html"], model)
    assert all(v.model_version == "v1" for v in got.values())

    # executor-lazy singleton: every row must report exactly ONE load
    # in its worker — a per-batch (or per-row) reload would show
    # counts > 1 on workers that served multiple batches
    assert {v.n_loads_in_worker for v in got.values()} == {1}


def test_artifact_file_is_wellformed():
    with open(DEFAULT_ARTIFACT, encoding="utf-8") as fh:
        art = json.load(fh)
    assert art["dims"] == len(art["weights"]) == 16
    assert all(-1.0 <= w <= 1.0 for w in art["weights"])


def test_scorer_edge_cases():
    model = _load_model(DEFAULT_ARTIFACT)
    assert score_bytes(None, model) == round(model["bias"], 6)
    assert score_bytes(b"", model) == round(model["bias"], 6)
    a = score_bytes(b"<html>content a</html>", model)
    b = score_bytes(b"<html>content a</html>", model)
    assert a == b  # pure function


def test_layout_artifact_head_goldens_byte_identical(monkeypatch):
    """The U1 slot-in dry run's DONE condition (VERDICT r2 #4): swap the
    fixture layout kernel for the artifact-backed head and the goldens
    still pass byte-identical — texts AND typed block structs — while
    the artifact file is genuinely live in the path (loaded exactly
    once, and a vocabulary mismatch breaks extraction loudly)."""
    import json as _json

    from ocr_spark.core.artifacts import artifact_load_count
    from ocr_spark.core.extract import extract_document
    from ocr_spark.core.fixture_extract import DEFAULT_LAYOUT_ARTIFACT
    from ocr_spark.gen.corpus import generate_pages
    from tests.test_goldens import _load_goldens

    goldens = _load_goldens()
    corpus = [r for r in generate_pages(120, seed=42, oversized_rows=0)]
    monkeypatch.setenv("OCR_SPARK_LAYOUT_IMPL", "artifact")
    n_loads_before = artifact_load_count(DEFAULT_LAYOUT_ARTIFACT)
    for row in corpus:
        res = extract_document(row["url"], row["html"])
        want = goldens[row["url"]]
        assert res.error is None, (row["url"], res.error)
        assert res.text == want["text"], row["url"]
        assert _json.loads(_json.dumps(res.blocks)) == want["blocks"], \
            row["url"]
    # executor-lazy singleton: 120 documents, at most one actual load
    assert artifact_load_count(DEFAULT_LAYOUT_ARTIFACT) <= \
        n_loads_before + 1


def test_layout_artifact_vocab_mismatch_is_loud(monkeypatch, tmp_path):
    """A wrong artifact must BREAK extraction (surface as the per-row
    error column), not silently fall back to the fixture path — this
    pins that the artifact genuinely feeds the output."""
    import json as _json

    from ocr_spark.core.extract import extract_document
    from ocr_spark.gen.corpus import generate_pages

    bad = tmp_path / "layout_bad.json"
    bad.write_text(_json.dumps({"version": "bad", "score_threshold": 0.0,
                                "labels": ["text"]}))
    monkeypatch.setenv("OCR_SPARK_LAYOUT_IMPL", "artifact")
    monkeypatch.setenv("OCR_SPARK_LAYOUT_ARTIFACT", str(bad))
    fixture_rows = [r for r in generate_pages(40, seed=42, oversized_rows=0)
                    if r["html"].startswith(b"%OCRFIX1")]
    res = extract_document(fixture_rows[0]["url"], fixture_rows[0]["html"])
    assert res.error is not None and "KeyError" in res.error


def test_layout_artifact_head_through_spark_job(spark, monkeypatch):
    """Same dry run through the REAL surface: mapInArrow extraction
    with the artifact head enabled (env captured driver-side, re-exported
    in the worker) produces byte-identical text to the fixture path for
    every url."""
    from ocr_spark.operators.extraction import run_extraction
    from ocr_spark.gen.corpus import generate_pages
    from tests.test_goldens import _load_goldens

    goldens = _load_goldens()
    rows = generate_pages(120, seed=42, oversized_rows=0)
    df = spark.createDataFrame(
        [(r["url"], r["html"]) for r in rows], "url string, html binary")
    monkeypatch.setenv("OCR_SPARK_LAYOUT_IMPL", "artifact")
    got = {r.url: r for r in run_extraction(df, partitions=8,
                                            big_partitions=1).collect()}
    assert len(got) == 120
    for url, r in got.items():
        assert r.error is None, (url, r.error)
        assert r.text == goldens[url]["text"], url


def test_ocr_and_crf_artifact_heads_goldens_byte_identical(monkeypatch):
    """U2/U6 slot-in dry run: with BOTH the OCR charset head and the
    CRF tag-vocabulary head enabled (plus the U1 layout head — all
    three seams at once), goldens stay byte-identical — text, blocks,
    spans, AND matches — and each artifact loads at most once."""
    import json as _json

    from ocr_spark.core.artifacts import artifact_load_count
    from ocr_spark.core.boxes import DEFAULT_OCR_ARTIFACT
    from ocr_spark.core.extract import extract_document
    from ocr_spark.core.mentions import DEFAULT_CRF_ARTIFACT
    from ocr_spark.gen.corpus import generate_pages
    from tests.test_goldens import _load_goldens

    goldens = _load_goldens()
    corpus = generate_pages(120, seed=42, oversized_rows=0)
    monkeypatch.setenv("OCR_SPARK_LAYOUT_IMPL", "artifact")
    monkeypatch.setenv("OCR_SPARK_OCR_IMPL", "artifact")
    monkeypatch.setenv("OCR_SPARK_CRF_IMPL", "artifact")
    before_ocr = artifact_load_count(DEFAULT_OCR_ARTIFACT)
    before_crf = artifact_load_count(DEFAULT_CRF_ARTIFACT)
    for row in corpus:
        res = extract_document(row["url"], row["html"])
        want = goldens[row["url"]]
        assert res.error is None, (row["url"], res.error)
        assert res.text == want["text"], row["url"]
        got = _json.loads(_json.dumps({
            "blocks": res.blocks, "spans": res.spans,
            "matches": res.matches}))
        assert got["blocks"] == want["blocks"], row["url"]
        assert got["spans"] == want["spans"], row["url"]
        assert got["matches"] == want["matches"], row["url"]
    assert artifact_load_count(DEFAULT_OCR_ARTIFACT) <= before_ocr + 1
    assert artifact_load_count(DEFAULT_CRF_ARTIFACT) <= before_crf + 1


def test_ocr_artifact_charset_mismatch_is_loud(monkeypatch, tmp_path):
    """A charset missing characters the glyphs use must surface as the
    per-row error (KeyError), not silently pass glyphs through."""
    import json as _json

    from ocr_spark.core.extract import extract_document
    from ocr_spark.gen.corpus import generate_pages

    bad = tmp_path / "ocr_bad.json"
    bad.write_text(_json.dumps({"version": "bad", "conf_threshold": 0.0,
                                "charset": ["x", "y", "z"]}))
    monkeypatch.setenv("OCR_SPARK_OCR_IMPL", "artifact")
    monkeypatch.setenv("OCR_SPARK_OCR_ARTIFACT", str(bad))
    fixture_rows = [r for r in generate_pages(40, seed=42, oversized_rows=0)
                    if r["html"].startswith(b"%OCRFIX1")]
    res = extract_document(fixture_rows[0]["url"], fixture_rows[0]["html"])
    assert res.error is not None and "KeyError" in res.error


def test_crf_artifact_vocab_mismatch_is_loud(monkeypatch, tmp_path):
    """A tag vocabulary without B-REF must break mention tagging loudly
    — pins that the CRF artifact is live in the dataflow."""
    import json as _json

    import pytest as _pytest

    from ocr_spark.core.mentions import tag_mentions

    bad = tmp_path / "crf_bad.json"
    bad.write_text(_json.dumps({"version": "bad", "labels": ["O"]}))
    monkeypatch.setenv("OCR_SPARK_CRF_IMPL", "artifact")
    monkeypatch.setenv("OCR_SPARK_CRF_ARTIFACT", str(bad))
    with _pytest.raises(KeyError):
        tag_mentions("As shown in Figure 3 the value rises.")


def test_all_artifact_heads_through_spark_job(spark, monkeypatch):
    """All three model seams through the REAL mapInArrow surface:
    byte-identical text and matches for every url (env captured
    driver-side and re-exported in the workers)."""
    import json as _json

    from ocr_spark.gen.corpus import generate_pages
    from ocr_spark.operators.extraction import run_extraction
    from tests.test_goldens import _load_goldens

    goldens = _load_goldens()
    rows = generate_pages(120, seed=42, oversized_rows=0)
    df = spark.createDataFrame(
        [(r["url"], r["html"]) for r in rows], "url string, html binary")
    monkeypatch.setenv("OCR_SPARK_LAYOUT_IMPL", "artifact")
    monkeypatch.setenv("OCR_SPARK_OCR_IMPL", "artifact")
    monkeypatch.setenv("OCR_SPARK_CRF_IMPL", "artifact")
    got = {r.url: r for r in run_extraction(df, partitions=8,
                                            big_partitions=1).collect()}
    assert len(got) == 120
    for url, r in got.items():
        assert r.error is None, (url, r.error)
        assert r.text == goldens[url]["text"], url
        assert _json.loads(r.matches_json) == goldens[url]["matches"], url
