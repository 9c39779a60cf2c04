"""The per-process metadata cache (sources/batch.py ``cached``): table
schema inference and frozen ANN artifacts are paid once per file
version, a rewritten file is re-read, and cached reads still return
independent DataFrames."""

from __future__ import annotations

import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from unified_log_aggregation_and_analytics_spark.operators import ann_index as A
from unified_log_aggregation_and_analytics_spark.sources.batch import load_table

SF = "/root/testdata/sf0.001"


def _jobs_run_by(spark, fn):
    """(fn(), number of Spark jobs fn launched), counted through a
    fresh job group."""
    sc = spark.sparkContext
    group = f"metadata-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "metadata cache test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, "embeddings", SF).filter(F.col("vec_id") != 0).cache()


def test_second_load_table_launches_no_job(spark, tmp_path):
    shutil.copy(f"{SF}/nation.parquet", tmp_path / "nation.parquet")
    first, n_first = _jobs_run_by(spark, lambda: load_table(spark, "nation", str(tmp_path)))
    second, n_second = _jobs_run_by(spark, lambda: load_table(spark, "nation", str(tmp_path)))
    assert n_first >= 1, "the first load must infer the schema"
    assert n_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_load_table_sees_rewritten_file(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    old = load_table(spark, "t", str(tmp_path))
    assert old.columns == ["a"] and old.count() == 3

    pq.write_table(pa.table({"a": [10, 20, 30, 40], "b": ["w", "x", "y", "z"]}), path)
    new = load_table(spark, "t", str(tmp_path))
    assert new.columns == ["a", "b"]
    assert sorted(tuple(r) for r in new.collect()) == [
        (10, "w"), (20, "x"), (30, "y"), (40, "z"),
    ]


def test_two_loads_of_one_table_self_join(spark):
    """Each load is its own relation, so column references from the two
    sides resolve without Spark's ambiguous self-join error."""
    n1 = load_table(spark, "nation", SF)
    n2 = load_table(spark, "nation", SF)
    pairs = n1.join(n2, n1["n_regionkey"] == n2["n_regionkey"]).select(
        n1["n_nationkey"], n2["n_nationkey"].alias("other")
    )
    per_region = [r[0] for r in n1.groupBy("n_regionkey").count().select("count").collect()]
    assert pairs.count() == sum(c * c for c in per_region)


def test_ivfpq_probe_follows_rebuild_at_same_path(spark, emb, tmp_path):
    """After a rebuild in place, the probe uses the new centroids and
    codebooks: it equals a probe of a fresh build of the same data at
    another path. A repeated probe of an unchanged index builds its
    plan without a Spark job, and every load returns a copy."""
    path, ref = str(tmp_path / "ivfpq"), str(tmp_path / "ref")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    q = [float(x) for x in emb.orderBy("vec_id").first().embedding]

    def probe(p):
        return sorted(tuple(r) for r in A.ivfpq_probe(spark, p, q, k=10, n_probe=2).collect())

    A.build_ivfpq_index(even, path, n_centroids=8, m=4, codes=8)
    probe(path)
    _, n_jobs = _jobs_run_by(spark, lambda: A.ivfpq_probe(spark, path, q, k=10, n_probe=2))
    assert n_jobs == 0
    old_centroids = A.load_centroids(spark, path)
    A.load_centroids(spark, path)[:] = 0.0  # callers get copies
    assert np.array_equal(A.load_centroids(spark, path), old_centroids)

    A.build_ivfpq_index(odd, path, n_centroids=8, m=4, codes=8)
    A.build_ivfpq_index(odd, ref, n_centroids=8, m=4, codes=8)
    assert not np.array_equal(A.load_centroids(spark, path), old_centroids)
    assert np.array_equal(A.load_centroids(spark, path), A.load_centroids(spark, ref))
    assert np.array_equal(A.load_codebooks(spark, path), A.load_codebooks(spark, ref))
    assert probe(path) == probe(ref)
    assert {r[0] % 2 for r in probe(path)} == {1}

