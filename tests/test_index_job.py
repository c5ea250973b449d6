"""ANN index build / serve (job.py run_index_job, ivf_topk_from_index):
the committed posting digest and the served top-k equal references built
with the lambda higher-order forms the job's expressions replaced."""

from __future__ import annotations

import os

import pytest

from ocr_spark.job import index_root, ivf_topk_from_index, run_index_job
from ocr_spark.sources import iceberg_shim as shim

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def indexed(spark, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("idx_work"))
    return spark, work, run_index_job(spark, work, SF)


def test_index_digest_matches_lambda_reference(indexed):
    """The posting codes (an ``array<int>`` cast to ``array<string>``) and
    the committed content digest equal the old
    ``transform(codes, c -> cast(c as string))`` form, row by row."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.simsearch import _kmeans, _pq_code_arr

    spark, work, summary = indexed
    _, assigned = _kmeans(spark, SF)
    ref = assigned.select("vec_id", "cell", F.array_join(F.transform(
        _pq_code_arr(F.col("v")), lambda c: c.cast("string")), ",")
        .alias("codes"))
    ref_digest = ref.agg(F.md5(F.concat_ws("|", F.sort_array(
        F.collect_list(F.concat_ws(":", "vec_id", "cell", "codes"))))
    ).alias("d")).first().d
    assert summary["content_digest"] == ref_digest

    root = os.path.join(index_root(work), "postings")
    got = shim.read_snapshot(spark, root, summary["postings_snapshot"])
    rows = {r.vec_id: (r.cell, r.codes)
            for r in got.select("vec_id", "cell", "codes").collect()}
    assert rows == {r.vec_id: (r.cell, r.codes) for r in ref.collect()}
    assert rows and all("," in codes for _, codes in rows.values())


def test_ivf_topk_matches_lambda_centroid_reference(indexed):
    """Centroid vectors regrouped from the committed rows the old way,
    ``transform(array_sort(collect_list(struct(pos, cv_val))), s -> ...)``,
    equal the trained ones, and assigning each query with them gives the
    cell every one of its served neighbours comes from; the served top-k
    equals the in-plan trained IVF top-k row for row."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.simsearch import (
        N_QUERIES, _kmeans, _km_argmin, _vecd, emb_ivf_trained_topk, t)

    spark, work, _ = indexed
    croot = os.path.join(index_root(work), "centroids")
    rows = shim.read_snapshot(spark, croot, shim.current_snapshot_id(croot))
    ref = rows.groupBy("cell").agg(F.transform(F.array_sort(F.collect_list(
        F.struct("pos", "cv_val"))), lambda s: s.cv_val).alias("cv"))
    cent, _ = _kmeans(spark, SF)
    assert dict(ref.collect()) == dict(cent.select("cell", "cv").collect())

    cents = ref.agg(F.array_sort(F.collect_list(F.struct("cell", "cv")))
                    .alias("cents"))
    q_cell = dict(t(spark, SF).select("vec_id", _vecd().alias("v"))
                  .filter(F.col("vec_id") < N_QUERIES).crossJoin(cents)
                  .select("vec_id", _km_argmin(F.col("v"), F.col("cents")))
                  .collect())
    served = ivf_topk_from_index(spark, work, SF).collect()
    assert served and {r.q_id for r in served} == set(q_cell)
    assert all(r.cell == q_cell[r.q_id] for r in served)
    key = ("q_id", "rank", "neighbor_id", "cos_sim", "cell")
    assert sorted(tuple(r[k] for k in key) for r in served) == sorted(
        tuple(r[k] for k in key)
        for r in emb_ivf_trained_topk(spark, SF).collect())


def test_centroid_regrouping_is_lambda_free(spark):
    """The k-means update regroups each cell's components with
    ``sort_array(...)["cv"]``: equal to the old
    ``transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)``
    and planned without a lambda function."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.simsearch import KM_ROUND, _km_centroids

    assigned = spark.createDataFrame(
        [(1, [3.0, -1.0, 0.5]), (0, [1.0, 2.0, 3.0]), (1, [1.0, 4.0, 0.25]),
         (0, [2.0, 2.0, 1.0]), (2, [1e-7, 9.0, -2.0])],
        "cell int, v array<double>")
    got = _km_centroids(assigned)
    optimized = got._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in optimized.lower(), optimized
    ref = (assigned.select("cell", F.posexplode("v").alias("pos", "x"))
           .groupBy("cell", "pos")
           .agg(F.round(F.avg("x"), KM_ROUND).alias("cv"))
           .groupBy("cell")
           .agg(F.transform(F.array_sort(F.collect_list(
               F.struct("pos", "cv"))), lambda s: s.cv).alias("cv")))
    assert dict(got.collect()) == dict(ref.collect()) == {
        0: [1.5, 2.0, 2.0], 1: [2.0, 1.5, 0.375], 2: [0.0, 9.0, -2.0]}
