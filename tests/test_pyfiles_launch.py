"""The north rule's literal launch shape: ``spark-submit --py-files
dist/ocr_spark.zip submit.py ...`` with the pure-Python core imported
FROM THE ZIP — the repo checkout is removed from every import path, so
a module missing from the packaging manifest (make_pyfiles.py) fails
this test instead of a cluster run."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from ocr_spark.sources import iceberg_shim as shim

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _make_zip(out=None):
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        from make_pyfiles import main
    finally:
        sys.path.pop(0)
    return main(out)


def test_pyfiles_zip_is_reproducible(tmp_path):
    """Same tree → same zip bytes, even when a file's mtime moves, so
    rebuilding never dirties the committed dist/ocr_spark.zip."""
    import hashlib

    def sha(path):
        with open(path, "rb") as fh:
            return hashlib.sha256(fh.read()).hexdigest()

    first = _make_zip(str(tmp_path / "a.zip"))
    touched = os.path.join(REPO, "ocr_spark", "__init__.py")
    st = os.stat(touched)
    os.utime(touched, (st.st_atime, st.st_mtime + 3600))
    try:
        second = _make_zip(str(tmp_path / "b.zip"))
    finally:
        os.utime(touched, (st.st_atime, st.st_mtime))
    assert sha(first) == sha(second)


def test_committed_zip_matches_tree(tmp_path):
    """dist/ocr_spark.zip is what spark-submit ships: it must equal a
    fresh build of the tree, so a change to ocr_spark/ without a rebuild
    (``python scripts/make_pyfiles.py``) fails here, not on a cluster."""
    fresh = _make_zip(str(tmp_path / "fresh.zip"))
    with open(fresh, "rb") as a, \
            open(os.path.join(REPO, "dist", "ocr_spark.zip"), "rb") as b:
        assert a.read() == b.read(), \
            "dist/ocr_spark.zip is stale: run python scripts/make_pyfiles.py"


def test_spark_submit_pyfiles_launch(spark, tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")

    # rebuild the zip from the current tree (stale-zip test is useless)
    zip_path = _make_zip()

    from ocr_spark.plans.extract_queries import pages_from_documents
    input_root = str(tmp_path / "in")
    work = str(tmp_path / "work")
    shim.write_snapshot(
        pages_from_documents(spark, "/root/testdata/sf0.001"), input_root)

    # small gold eval set for the --eval-gold stage
    from pyspark.sql import functions as F
    gold_path = str(tmp_path / "gold")
    (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
     .filter(F.col("doc_id").isin(1, 2, 3))
     .select(F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
             .alias("url"), "text")
     .coalesce(1).write.parquet(gold_path))

    # isolated app dir: only submit.py + the zip — if an import leaks
    # past the zip, ModuleNotFoundError, not silent fallback to the repo
    app_dir = tmp_path / "app"
    app_dir.mkdir()
    shutil.copy(os.path.join(REPO, "submit.py"), app_dir / "submit.py")
    shutil.copy(zip_path, app_dir / "ocr_spark.zip")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    proc = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--py-files", "ocr_spark.zip",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--conf", "spark.ui.enabled=false",
         "submit.py", "--input", input_root, "--work-dir", work,
         "--partitions", "8", "--big-partitions", "1", "--waves", "1",
         "--eval-gold", gold_path],
        cwd=str(app_dir), env=env, capture_output=True, text=True,
        timeout=540)
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["docs"] > 0
    assert summary["buckets_processed"] > 0
    assert summary["eval"]["n_gold"] == 3
    assert summary["eval"]["n_unextracted"] == 0
    assert summary["eval"]["full_recall_frac"] == 1.0
    assert 0.0 < summary["eval"]["macro_f1"] < 1.0

    # the committed output is readable back in-process and non-empty
    from ocr_spark.job import output_root, read_extracted
    assert shim.current_snapshot_id(output_root(work)) is not None
    out = read_extracted(spark, work)
    assert out.filter("error IS NULL").count() > 0


def test_spark_submit_flags_configure_the_session(tmp_path):
    """spark-submit's own --master and --conf reach the session:
    get_spark()'s defaults (local[*], 32 shuffle partitions, 2048-row
    Arrow batches) yield to the launcher, so a cluster submit runs on
    the cluster it names."""
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    zip_path = _make_zip(str(tmp_path / "ocr_spark.zip"))
    probe = tmp_path / "probe.py"
    probe.write_text(
        "from ocr_spark.session import get_spark\n"
        "spark = get_spark()\n"
        "print(spark.sparkContext.master,\n"
        "      spark.conf.get('spark.sql.shuffle.partitions'),\n"
        "      spark.conf.get("
        "'spark.sql.execution.arrow.maxRecordsPerBatch'))\n"
        "spark.stop()\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [spark_submit, "--master", "local[2]", "--py-files", zip_path,
         "--conf", "spark.sql.shuffle.partitions=8",
         "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=100",
         str(probe)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split() == ["local[2]", "8", "100"]
