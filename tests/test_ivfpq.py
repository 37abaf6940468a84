"""IVF+PQ combined index: pruned ADC scan + exact re-rank recall, and
the full-probe/high-refine limit equals brute force."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

from neurondb_spark.index.ivfpq import IVFPQIndex


@pytest.fixture(scope="module")
def idx(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = os.path.join(tempfile.mkdtemp(prefix="neurondb_ivfpq_t_"), "idx")
    return IVFPQIndex.build(emb, "embedding", "vec_id", path, dim=64,
                            nlists=8, m=8, k=16, seed=42)


def _brute(spark, q, k):
    from neurondb_spark.functions.distance import l2_distance

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return (
        emb.select("vec_id", l2_distance("embedding", q).alias("d"))
        .orderBy(F.col("d").asc(), F.col("vec_id").asc()).limit(k).collect()
    )


def _qvec(spark):
    row = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .where(F.col("vec_id") == 3).head()
    )
    return [float(x) for x in row["embedding"]]


def test_full_probe_high_refine_equals_exact(spark, idx):
    q = _qvec(spark)
    n = idx.meta["total_rows"]
    got = [(r["vec_id"], r["distance"])
           for r in idx.search(spark, q, topk=10, nprobe=8,
                               refine=max(1, n // 10)).collect()]
    want = [(r["vec_id"], r["d"]) for r in _brute(spark, q, 10)]
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert g[1] == pytest.approx(w[1], abs=1e-9)


def test_pruned_recall(spark, idx):
    q = _qvec(spark)
    got = {r["vec_id"] for r in idx.search(spark, q, topk=10, nprobe=4,
                                           refine=4).collect()}
    want = {r["vec_id"] for r in _brute(spark, q, 10)}
    assert len(got & want) / 10 >= 0.5  # coarse+code loss bounded
    assert 3 in got  # the self-match must survive


def test_roundtrip_load(spark, idx):
    q = _qvec(spark)
    re = IVFPQIndex.load(idx.path)
    a = [(r["vec_id"], r["distance"]) for r in idx.search(spark, q, topk=5).collect()]
    b = [(r["vec_id"], r["distance"]) for r in re.search(spark, q, topk=5).collect()]
    assert a == b
