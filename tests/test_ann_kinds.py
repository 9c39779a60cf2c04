"""Every persisted index kind (operators/ann_index.py KINDS) shares one
append contract: an empty delta is a recorded no-op (``rows: 0``,
probe results unchanged), and a non-empty delta records its true row
count. Also pins partition pruning for the IVF-OPQ probe."""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

import numpy as np
import pytest
from pyspark.sql import functions as F

from unified_log_aggregation_and_analytics_spark.operators import ann_index as A
from unified_log_aggregation_and_analytics_spark.sources.batch import DEFAULT_SF_DIR, load_table

# the smallest scale factor, next to the default one
SF = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")

# full-rank orthonormal rotation (OPQ kinds); its first 32 rows serve
# the rotated-prefix kind
_R = np.linalg.qr(np.random.default_rng(7).standard_normal((64, 64)))[0]

KIND_API = {
    "lsh": (lambda df, p: A.build_lsh_index(df, p, n_bits=6), A.append_lsh_index,
            lambda s, p, q: A.lsh_probe(s, p, q, k=5, n_bits=6)),
    "ivf": (lambda df, p: A.build_ivf_index(df, p, n_centroids=8), A.append_ivf_index,
            lambda s, p, q: A.ivf_probe(s, p, q, k=5, n_probe=3)),
    "ivfpq": (lambda df, p: A.build_ivfpq_index(df, p, n_centroids=8, train_iters=0),
              A.append_ivfpq_index, lambda s, p, q: A.ivfpq_probe(s, p, q, k=5, n_probe=3)),
    "sq8": (A.build_sq8_index, A.append_sq8_index, lambda s, p, q: A.sq8_probe(s, p, q, k=5)),
    "ivfsq8": (lambda df, p: A.build_ivfsq8_index(df, p, n_centroids=8), A.append_ivfsq8_index,
               lambda s, p, q: A.ivfsq8_probe(s, p, q, k=5, n_probe=3)),
    "prefix": (A.build_prefix_index, A.append_prefix_index,
               lambda s, p, q: A.prefix_refine_probe(s, p, q, k=5, shortlist=20)),
    "rotated_prefix": (lambda df, p: A.build_rotated_prefix_index(df, p, _R[:32]),
                       A.append_rotated_prefix_index,
                       lambda s, p, q: A.rotated_prefix_probe(s, p, q, k=5, shortlist=20)),
    "opq": (lambda df, p: A.build_opq_index(df, p, _R), A.append_opq_index,
            lambda s, p, q: A.opq_probe(s, p, q, k=5)),
    "ivfopq": (lambda df, p: A.build_ivfopq_index(df, p, _R, n_centroids=8),
               A.append_ivfopq_index, lambda s, p, q: A.ivfopq_probe(s, p, q, k=5, n_probe=3)),
}


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, "embeddings", SF).select("vec_id", "embedding").cache()


@pytest.fixture(scope="module")
def qvec(emb):
    return [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("kind", list(KIND_API))
def test_append_records_rows_and_empty_append_is_noop(spark, emb, qvec, tmp_path, kind):
    build, append, probe = KIND_API[kind]
    path = str(tmp_path / kind)
    base = emb.filter(F.col("vec_id") < 300)
    delta = emb.filter(F.col("vec_id") >= 300)
    build(base, path)
    want = _rows(probe(spark, path, qvec))
    assert want

    append(emb.filter(F.lit(False)), path)
    assert _rows(probe(spark, path, qvec)) == want
    last = A.read_manifest(path)[-1]
    assert (last["op"], last["rows"]) == ("append", 0)

    append(delta, path)
    last = A.read_manifest(path)[-1]
    assert (last["op"], last["rows"]) == ("append", delta.count())
    assert [v["op"] for v in A.read_manifest(path)] == ["build", "append", "append"]


def test_ivfopq_probe_partition_pruned(spark, emb, qvec, tmp_path):
    path = str(tmp_path / "ivfopq")
    A.build_ivfopq_index(emb.filter(F.col("vec_id") > 0), path, _R, n_centroids=8)
    buf = io.StringIO()
    with redirect_stdout(buf):
        A.ivfopq_probe(spark, path, qvec, k=5, n_probe=3).explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    pf = plan[plan.index("PartitionFilters"):].splitlines()[0]
    assert "cell" in pf
