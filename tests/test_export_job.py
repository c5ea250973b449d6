"""Training-data export stage (job.py run_export_job): curated snapshot
→ kept docs partitioned by shard_id + per-shard content-digest manifest,
verified consumer-side by verify_shards."""

from __future__ import annotations

import os
import shutil

import pytest

from ocr_spark.job import (
    export_root, run_curation_job, run_export_job, run_extraction_job,
    verify_shards,
)
from ocr_spark.sources import iceberg_shim as shim


@pytest.fixture(scope="module")
def exported(spark, tmp_path_factory):
    from ocr_spark.plans.extract_queries import pages_from_documents

    input_root = str(tmp_path_factory.mktemp("exp_in"))
    work = str(tmp_path_factory.mktemp("exp_work"))
    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    shim.write_snapshot(pages, input_root)
    run_extraction_job(spark, input_root, work, partitions=8,
                       big_partitions=1, waves=2)
    cur = run_curation_job(spark, work)
    summary = run_export_job(spark, work)
    return spark, work, cur, summary


def test_export_commits_manifest_with_digests(exported):
    spark, work, cur, summary = exported
    assert shim.history(export_root(work)) == [summary["snapshot"]]
    manifest = shim.read_manifest(export_root(work), summary["snapshot"])
    assert manifest["exported_from"] == cur["snapshot"]
    shards = manifest["shards"]
    assert len(shards) == summary["shards"] == cur["shards"] > 0
    for m in shards.values():
        assert m["n_docs"] > 0 and len(m["content_digest"]) == 32


def test_export_contains_exactly_the_kept_docs(exported):
    spark, work, cur, summary = exported
    out = shim.read_snapshot(spark, export_root(work), summary["snapshot"])
    assert out.count() == summary["docs"] == cur["docs_kept"]
    assert out.filter("shard_id IS NULL").count() == 0
    # physically partitioned by shard: hive-style directories, one per shard
    data_dir = shim.read_manifest(export_root(work),
                                  summary["snapshot"])["data_dir"]
    parts = [d for d in os.listdir(data_dir) if d.startswith("shard_id=")]
    assert len(parts) == summary["shards"]


def test_zone_map_prunes_without_scanning(exported):
    """Manifest-only data skipping: prune_export_shards plans a
    url-range read from the committed zone maps (no Spark job), and
    reading ONLY the surviving shards returns exactly the full-scan
    filter's rows while provably touching fewer shards."""
    from pyspark.sql import functions as F

    from ocr_spark.job import prune_export_shards

    spark, work, cur, summary = exported
    manifest = shim.read_manifest(export_root(work), summary["snapshot"])
    shards = manifest["shards"]
    assert all("min_url" in m and m["min_url"] <= m["max_url"]
               for m in shards.values())

    # a point query on the lexicographically largest url: only shards
    # whose zone contains it survive
    hi = max(m["max_url"] for m in shards.values())
    pruned = prune_export_shards(work, hi, hi)
    assert 0 < len(pruned) < len(shards)

    out = shim.read_snapshot(spark, export_root(work),
                             summary["snapshot"])
    want = sorted(r.url for r in
                  out.filter(F.col("url") == hi).collect())
    got = sorted(r.url for r in
                 out.filter(F.col("shard_id").cast("string")
                            .isin([str(s) for s in pruned]))
                 .filter(F.col("url") == hi).collect())
    assert got == want and len(want) >= 1


def test_verify_export_passes_and_catches_missing_shard(exported):
    spark, work, cur, summary = exported
    ok = verify_shards(spark, work, "export")
    assert ok["snapshot"] == summary["snapshot"]
    assert ok["shards_checked"] == summary["shards"]
    assert ok["mismatches"] == {}
    # consumer-side integrity: drop one shard partition → flagged
    data_dir = shim.read_manifest(export_root(work),
                                  summary["snapshot"])["data_dir"]
    victim = sorted(d for d in os.listdir(data_dir)
                    if d.startswith("shard_id="))[0]
    shutil.rmtree(os.path.join(data_dir, victim))
    bad = verify_shards(spark, work, "export")
    shard = victim.split("=", 1)[1]
    assert bad["mismatches"] == {shard: "missing from data"}


def test_reexport_reproduces_digests(exported):
    """Re-exporting the same curated snapshot must reproduce every
    content digest bit-for-bit — the reproducibility contract a
    training run relies on when it re-materializes shards."""
    spark, work, cur, summary = exported
    again = run_export_job(spark, work, snapshot=cur["snapshot"])
    assert again["snapshot"] != summary["snapshot"]
    a = shim.read_manifest(export_root(work), summary["snapshot"])["shards"]
    b = shim.read_manifest(export_root(work), again["snapshot"])["shards"]
    assert a == b


def test_submit_cli_export_chain(spark, tmp_path):
    """The spark-submit entry runs extraction → curation → export →
    verification as one CLI invocation (--export implies --curate) and
    reports verified=true. Subprocess because submit.py owns (and
    stops) its own SparkSession."""
    import json
    import subprocess
    import sys as _sys

    from ocr_spark.plans.extract_queries import pages_from_documents

    input_root = str(tmp_path / "in")
    work = str(tmp_path / "work")
    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    shim.write_snapshot(pages, input_root)
    proc = subprocess.run(
        [_sys.executable, os.path.join(os.path.dirname(__file__),
                                       "..", "submit.py"),
         "--input", input_root, "--work-dir", work,
         "--partitions", "8", "--big-partitions", "1", "--waves", "1",
         "--export", "--master", "local[8]"],
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["export"]["verified"] is True
    assert summary["export"]["shards"] == summary["curation"]["shards"]
    assert summary["export"]["docs"] == summary["curation"]["docs_kept"]


def test_crash_resume_then_export_matches_clean_run(spark, tmp_path):
    """Full-chain crash safety: extraction killed mid-job (injected
    after wave 1), resumed, then curated and exported — the export's
    shard manifest must be IDENTICAL to a clean never-crashed run over
    the same input, proving the checkpoint/resume path changes nothing
    downstream."""
    from ocr_spark.plans.extract_queries import pages_from_documents

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    input_root = str(tmp_path / "in")
    shim.write_snapshot(pages, input_root)

    crashed = str(tmp_path / "crashed")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction_job(spark, input_root, crashed, partitions=8,
                           big_partitions=1, waves=3, fail_after_waves=1)
    run_extraction_job(spark, input_root, crashed, partitions=8,
                       big_partitions=1, waves=3)
    run_curation_job(spark, crashed)
    crashed_exp = run_export_job(spark, crashed)
    assert verify_shards(spark, crashed, "export")["mismatches"] == {}

    clean = str(tmp_path / "clean")
    run_extraction_job(spark, input_root, clean, partitions=8,
                       big_partitions=1, waves=3)
    run_curation_job(spark, clean)
    clean_exp = run_export_job(spark, clean)

    a = shim.read_manifest(export_root(crashed),
                           crashed_exp["snapshot"])["shards"]
    b = shim.read_manifest(export_root(clean),
                           clean_exp["snapshot"])["shards"]
    assert a == b and len(a) > 0


def test_sampling_job_realizes_mixture(spark, tmp_path_factory):
    """extraction → curation → SAMPLING: every kept doc gets floor(e)
    or floor(e)+1 copies of its detected language's effective epochs,
    the sampled rows re-pack into budgeted shards with a verifiable
    digest manifest, and a re-run over the same curation snapshot
    reproduces every shard digest bit-for-bit."""
    from pyspark.sql import functions as F

    from ocr_spark.job import run_sampling_job, sampling_root
    from ocr_spark.plans.extract_queries import pages_from_documents

    input_root = str(tmp_path_factory.mktemp("smp_in"))
    work = str(tmp_path_factory.mktemp("smp_work"))
    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    shim.write_snapshot(pages, input_root)
    run_extraction_job(spark, input_root, work, partitions=8,
                       big_partitions=1, waves=2)
    run_curation_job(spark, work)

    s = run_sampling_job(spark, work)
    assert s["sampled_rows"] > 0 and s["shards"] > 0
    out = shim.read_snapshot(spark, sampling_root(work), s["snapshot"])

    # per-doc copies bracket the language's effective epochs
    manifest = shim.read_manifest(sampling_root(work), s["snapshot"])
    assert manifest["sampled_from"] == s["sampled_from"]
    per_doc = (out.groupBy("url", "lang")
               .agg(F.count("*").alias("copies")).collect())
    assert per_doc
    # copies differ by at most 1 within a language (floor vs floor+1)
    by_lang: dict = {}
    for r in per_doc:
        by_lang.setdefault(r.lang, set()).add(r.copies)
    for lang, cset in by_lang.items():
        assert len(cset) <= 2 and max(cset) - min(cset) <= 1, (lang, cset)

    # shard token sums respect the budget up to one document overhang
    from ocr_spark.plans.curation import SHARD_TOKEN_BUDGET

    shards = manifest["shards"]
    widest = dict(out.groupBy("shard_id").agg(F.max("n_words")).collect())
    assert set(widest) == set(shards)
    for sid_, m in shards.items():
        assert m["n_docs"] >= 1
        assert m["n_tokens"] < SHARD_TOKEN_BUDGET + widest[sid_], (sid_, m)
    # determinism: a second run over the same curation snapshot
    # reproduces every content digest
    s2 = run_sampling_job(spark, work)
    manifest2 = shim.read_manifest(sampling_root(work), s2["snapshot"])
    assert {k: v["content_digest"] for k, v in shards.items()} \
        == {k: v["content_digest"]
            for k, v in manifest2["shards"].items()}

    # one consumer-side integrity call covers both shard stages: the
    # sampled corpus verifies clean via the SAME digest definition the
    # producer committed; export never ran here so it reports absent,
    # not failed. Dropping a sampled shard partition flips ok.
    from ocr_spark.job import verify_all

    vs = verify_shards(spark, work, "sampling")
    assert vs["mismatches"] == {} and vs["shards_checked"] > 0
    va = verify_all(spark, work)
    assert va["ok"]
    assert va["stages"]["sampling"]["present"]
    assert not va["stages"]["export"]["present"]

    snap_dir = os.path.join(sampling_root(work), "data",
                            f"snap-{s2['snapshot']}")
    victim = next(d for d in sorted(os.listdir(snap_dir))
                  if d.startswith("shard_id="))
    shutil.rmtree(os.path.join(snap_dir, victim))
    bad = verify_all(spark, work)
    assert not bad["ok"]
    assert bad["stages"]["sampling"]["mismatches"]


def test_sft_job_renders_shards_and_verifies(exported):
    """SFT-export stage: every kept curated doc becomes exactly one
    rendered example, loss-mask spans slice the rendered string
    correctly, the committed manifest digests verify consumer-side,
    and a re-run reproduces every digest bit-for-bit."""
    from ocr_spark.job import run_sft_job, sft_root, verify_all
    from ocr_spark.plans.curation import SFT_END, SFT_USER_PRE

    spark, work, cur, _ = exported
    summary = run_sft_job(spark, work, examples_per_shard=50)
    assert summary["examples"] == cur["docs_kept"]
    assert summary["shards"] >= 1
    check = verify_shards(spark, work, "sft")
    assert check["mismatches"] == {}
    allcheck = verify_all(spark, work)
    assert allcheck["ok"] and allcheck["stages"]["sft"]["present"]

    out = shim.read_snapshot(spark, sft_root(work), summary["snapshot"])
    rows = out.collect()
    assert len(rows) == summary["examples"]
    for r in rows[:50]:
        assert r["rendered"].startswith(SFT_USER_PRE)
        assert r["rendered"].endswith(SFT_END)
        assert r["loss_end"] - r["loss_start"] == r["response_chars"]
        body = r["rendered"][r["loss_start"]:r["loss_end"]]
        assert len(body) == r["response_chars"]
        assert r["rendered"][:r["loss_start"]].endswith("<|assistant|>\n")
        assert r["n_words"] > 0

    rerun = run_sft_job(spark, work, examples_per_shard=50)
    m1 = shim.read_manifest(sft_root(work), summary["snapshot"])["shards"]
    m2 = shim.read_manifest(sft_root(work), rerun["snapshot"])["shards"]
    assert m1 == m2


def test_index_job_build_serve_parity(spark, tmp_path):
    """ANN index build/serve separation must lose nothing: the serve
    path over the COMMITTED index (broadcast committed centroids →
    cell-pruned posting probe → vec_id gather → exact re-rank) must
    reproduce the in-plan emb_ivf_trained_topk row-for-row, the
    committed digest must verify consumer-side, and a rebuild must
    reproduce the digest bit-for-bit."""
    from ocr_spark.job import (
        ivf_topk_from_index, run_index_job, verify_index)
    from ocr_spark.plans.simsearch import emb_ivf_trained_topk

    sf = "/root/testdata/sf0.01"
    work = str(tmp_path / "idx")
    s1 = run_index_job(spark, work, sf)
    assert verify_index(spark, work)["ok"]
    served = sorted((r["q_id"], r["rank"], r["neighbor_id"],
                     r["cos_sim"], r["cell"])
                    for r in ivf_topk_from_index(spark, work, sf)
                    .collect())
    inplan = sorted((r["q_id"], r["rank"], r["neighbor_id"],
                     r["cos_sim"], r["cell"])
                    for r in emb_ivf_trained_topk(spark, sf).collect())
    assert served == inplan and served
    s2 = run_index_job(spark, work, sf)
    assert s2["content_digest"] == s1["content_digest"]


def test_index_serves_the_centroids_its_postings_name(spark, tmp_path):
    """A rebuild publishes centroids before postings; stopped between
    the two publishes, CURRENT centroids are not the ones the published
    postings were assigned with. Serving reads the centroids snapshot
    the postings manifest records, so the served top-k still equals the
    in-plan trained IVF top-k."""
    from pyspark.sql import functions as F

    from ocr_spark.job import (
        index_root, ivf_topk_from_index, run_index_job, verify_index)
    from ocr_spark.plans.simsearch import emb_ivf_trained_topk
    from tests.test_index_job import SF as sf

    work = str(tmp_path / "idx")
    built = run_index_job(spark, work, sf)
    croot = os.path.join(index_root(work), "centroids")
    rows = shim.read_snapshot(spark, croot, built["centroids_snapshot"])
    cells = sorted(r.cell for r in rows.select("cell").distinct().collect())
    rotate = F.create_map(*(F.lit(x) for i, c in enumerate(cells)
                            for x in (c, cells[(i + 1) % len(cells)])))
    stray = shim.write_snapshot(
        rows.select(rotate[F.col("cell")].alias("cell"), "pos", "cv_val")
        .coalesce(1), croot)
    assert shim.current_snapshot_id(croot) == stray != \
        built["centroids_snapshot"]
    assert verify_index(spark, work)["ok"]

    key = ("q_id", "rank", "neighbor_id", "cos_sim", "cell")
    served = sorted(tuple(r[k] for k in key)
                    for r in ivf_topk_from_index(spark, work, sf).collect())
    assert served and served == sorted(
        tuple(r[k] for k in key)
        for r in emb_ivf_trained_topk(spark, sf).collect())


def test_shard_products_run_no_spark_job_after_publish(exported,
                                                       monkeypatch):
    """The publish is each shard product's commit point and its last
    step: the job group's job count when the product's snapshot is
    published equals the count when the job returns."""
    from ocr_spark.job import (
        run_sampling_job, run_sft_job, sampling_root, sft_root)

    spark, work, cur, _ = exported
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()

    def jobs(group: str) -> int:
        bus.waitUntilEmpty()  # job-start events reach the tracker async
        return len(tracker.getJobIdsForGroup(group))

    at_publish: dict = {}
    publish = shim.publish_snapshot

    def record(table_root, snapshot_id):
        publish(table_root, snapshot_id)
        at_publish[table_root] = jobs(os.path.basename(table_root))

    monkeypatch.setattr(shim, "publish_snapshot", record)
    summaries = {}
    try:
        for root_of, run in ((export_root, run_export_job),
                             (sampling_root, run_sampling_job),
                             (sft_root, run_sft_job)):
            group = os.path.basename(root_of(work))
            sc.setJobGroup(group, f"{group} product commit")
            summaries[group] = run(spark, work)
            assert at_publish[root_of(work)] == jobs(group) > 0, group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert summaries["sampled"]["kept_docs"] == cur["docs_kept"]
    assert summaries["sft"]["examples"] == cur["docs_kept"]
