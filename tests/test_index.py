"""IVF / LSH index tests: exactness at full probe, recall at partial probe,
partition pruning in the physical plan."""

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from neurondb_spark.data_management import layout_schema  # noqa: E402
from neurondb_spark.index import IVFIndex, LSHIndex  # noqa: E402
from neurondb_spark.operators.knn import knn, vec_route  # noqa: E402
from tests.conftest import SF_DIR, jobs_run  # noqa: E402

DIM = 64


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _query(spark):
    row = _emb(spark).where(F.col("vec_id") == 5).select("embedding").head()
    return [float(x) for x in row[0]]


@pytest.mark.prodconf
def test_ivf_full_probe_is_exact(spark):
    emb = _emb(spark)
    q = _query(spark)
    with tempfile.TemporaryDirectory() as td:
        idx = IVFIndex.build(emb, "embedding", td, nlists=8, metric="l2", dim=DIM)
        got = idx.search(spark, q, k=10, nprobe=8, tiebreak=["vec_id"])
        want = knn(emb, "embedding", q, k=10, metric="l2", dim=DIM, tiebreak=["vec_id"])
        got_ids = [r["vec_id"] for r in got.collect()]
        want_ids = [r["vec_id"] for r in want.collect()]
        assert got_ids == want_ids


@pytest.mark.prodconf
def test_ivf_partial_probe_recall_and_pruning(spark):
    emb = _emb(spark)
    q = _query(spark)
    with tempfile.TemporaryDirectory() as td:
        idx = IVFIndex.build(emb, "embedding", td, nlists=8, metric="l2", dim=DIM)
        got = idx.search(spark, q, k=10, nprobe=3, tiebreak=["vec_id"])
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "cluster_id" in plan  # partition pruning reached the scan
        got_ids = {r["vec_id"] for r in got.collect()}
        want = knn(emb, "embedding", q, k=10, metric="l2", dim=DIM, tiebreak=["vec_id"])
        want_ids = {r["vec_id"] for r in want.collect()}
        recall = len(got_ids & want_ids) / 10
        assert recall >= 0.3, f"recall@10 too low: {recall}"
        stats = idx.statistics(spark)
        assert stats["total_rows"] == emb.count()
        assert stats["populated_lists"] <= 8


@pytest.mark.prodconf
def test_lsh_full_probe_is_exact(spark):
    emb = _emb(spark)
    q = _query(spark)
    with tempfile.TemporaryDirectory() as td:
        idx = LSHIndex.build(emb, "embedding", td, dim=DIM, nbits=6, metric="cosine")
        got = idx.search(spark, q, k=10, probe_hamming=6, tiebreak=["vec_id"])
        want = knn(emb, "embedding", q, k=10, metric="cosine", dim=DIM, tiebreak=["vec_id"])
        got_ids = [r["vec_id"] for r in got.collect()]
        want_ids = [r["vec_id"] for r in want.collect()]
        assert got_ids == want_ids


@pytest.mark.prodconf
def test_lsh_partial_probe_recall(spark):
    emb = _emb(spark)
    q = _query(spark)
    with tempfile.TemporaryDirectory() as td:
        idx = LSHIndex.build(emb, "embedding", td, dim=DIM, nbits=6, metric="cosine")
        got = idx.search(spark, q, k=10, probe_hamming=2, tiebreak=["vec_id"])
        got_ids = {r["vec_id"] for r in got.collect()}
        want = knn(emb, "embedding", q, k=10, metric="cosine", dim=DIM, tiebreak=["vec_id"])
        want_ids = {r["vec_id"] for r in want.collect()}
        assert len(got_ids & want_ids) / 10 >= 0.3


@pytest.mark.prodconf
def test_ivf_batch_knn_matches_per_query_probe(spark):
    """The batch query-routed cluster join must return, for every qid,
    exactly what the single-query fixed-point probe path returns."""
    from neurondb_spark.registry.index_queries import (
        _BATCH_KNN_K,
        _LLOYD_NPROBE,
        _ivf_lloyd_index_for,
        _probe_clusters_fixed,
        _q_ivf_batch_knn,
    )

    batch = {}
    for r in _q_ivf_batch_knn(spark, SF_DIR).collect():
        batch.setdefault(r["qid"], []).append((r["rn"], r["vec_id"]))
    assert set(batch) == {0, 1, 2, 3, 4, 5}  # vec_id <= 5, ids start at 0
    idx = _ivf_lloyd_index_for(spark, SF_DIR)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    for qid in sorted(batch):
        q = [float(x) for x in
             emb.where(F.col("vec_id") == qid).head()["embedding"]]
        probed = _probe_clusters_fixed(spark, idx.centroids, q, _LLOYD_NPROBE)
        single = [
            r["vec_id"]
            for r in idx.search(
                spark, q, k=_BATCH_KNN_K, probe_clusters=probed,
                tiebreak=["vec_id"],
            ).collect()
        ]
        assert [v for _, v in sorted(batch[qid])] == single, qid


def test_ann_recall_floor_gate(spark):
    """r8 verdict #5: a measured recall floor in CI — the ann_recall_report
    gate query computes recall@10 of HNSW(ef=64) and IVF(nprobe=10/16)
    against exact batch kNN and raises below 0.9; here we also drive
    ops.assert_recall directly on one query per method."""
    from neurondb_spark.ops import assert_recall
    from neurondb_spark.registry.common import qvec
    from neurondb_spark.registry.index_queries import (
        _hnsw_index_for,
        _index_for,
        _q_ann_recall,
    )

    rows = _q_ann_recall(spark, SF_DIR).collect()
    assert {r["method"] for r in rows} == {"hnsw_ef64", "ivf_nprobe10"}
    for r in rows:
        assert r["n_queries"] == 20 and r["k"] == 10
        assert r["avg_recall"] >= 0.9

    # per-query assert_recall on the raw search paths
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = qvec(spark, SF_DIR, 1)
    from neurondb_spark.functions.distance import l2_distance

    want = [
        r["vec_id"] for r in emb.select(
            "vec_id",
            l2_distance("embedding", q, checked=False).alias("d"),
        ).orderBy(F.col("d").asc(), F.col("vec_id").asc()).limit(10).collect()
    ]
    got_h = [r["vec_id"] for r in _hnsw_index_for(spark, SF_DIR)
             .search(spark, q, k=10, ef_search=64).collect()]
    got_i = [r["vec_id"] for r in _index_for(spark, SF_DIR)
             .search(spark, q, k=10, nprobe=10, tiebreak=["vec_id"]).collect()]
    assert assert_recall(got_h, want, 0.9) >= 0.9
    assert assert_recall(got_i, want, 0.9) >= 0.9


@pytest.mark.prodconf
def test_lsh_full_radius_is_exact_and_batch_agrees(spark):
    """Full-radius multi-probe LSH equals brute-force cosine top-k, and
    search_batch agrees with per-query search at a PARTIAL radius (same
    probe buckets, shared pruned scan)."""
    emb = _emb(spark)
    from neurondb_spark.functions.distance import cosine_distance
    from neurondb_spark.registry.common import qvec
    from neurondb_spark.registry.index_queries import _LSH_NBITS, _lsh_index_for

    idx = _lsh_index_for(spark, SF_DIR)
    q = qvec(spark, SF_DIR, 1)
    got = [r["vec_id"] for r in idx.search(
        spark, q, k=10, probe_hamming=_LSH_NBITS, tiebreak=["vec_id"]
    ).collect()]
    want = [r["vec_id"] for r in emb.select(
        "vec_id", cosine_distance("embedding", q).alias("d")
    ).orderBy(F.col("d").asc(), F.col("vec_id").asc()).limit(10).collect()]
    assert got == want

    qrows = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id").isin(1, 4, 9)).collect()
    ]
    batch = {}
    for r in idx.search_batch(spark, qrows, k=5, probe_hamming=2,
                              tiebreak=["vec_id"]).collect():
        batch.setdefault(r["qid"], []).append(r["vec_id"])
    for qid, vec in qrows:
        single = [r["vec_id"] for r in idx.search(
            spark, vec, k=5, probe_hamming=2, tiebreak=["vec_id"]
        ).collect()]
        assert batch[qid] == single, qid


@pytest.mark.prodconf
def test_lsh_search_construction_runs_no_spark_job(spark):
    """With the layout schema cached in meta, constructing an LSH search
    launches zero Spark jobs (parity with the IVF/HNSW discipline).
    Holds for layouts under the parallel-partition-discovery threshold
    (32 dirs): nbits=4 -> 16 buckets; wider layouts pay one listing job
    by design (documented in LSHIndex._read_data)."""
    emb = _emb(spark)
    from neurondb_spark.index import LSHIndex as LSH
    from neurondb_spark.registry.common import qvec

    path = os.path.join(tempfile.mkdtemp(prefix="lsh_nojob_"), "idx")
    idx = LSH.build(emb.select("vec_id", "embedding"), "embedding", path,
                    dim=64, nbits=4)
    q = qvec(spark, SF_DIR, 1)
    sc = spark.sparkContext
    sc.setJobGroup("lsh_nojob_probe", "search construction must be lazy")
    try:
        df = idx.search(spark, q, k=5, probe_hamming=1, tiebreak=["vec_id"])
        jobs = sc.statusTracker().getJobIdsForGroup("lsh_nojob_probe")
        assert list(jobs) == [], f"search construction ran Spark jobs: {jobs}"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert df.count() >= 1


@pytest.mark.prodconf
def test_lsh_dml_lifecycle(spark):
    """LSH insert appends to the correct hyperplane bucket; delete
    tombstones; vacuum rewrites without them; batch search agrees with
    single search under tombstones; schema-mismatch insert raises."""
    import pytest

    from neurondb_spark.functions.distance import cosine_distance
    from neurondb_spark.index import LSHIndex as LSH
    from neurondb_spark.registry.common import qvec

    emb = _emb(spark).select("vec_id", "embedding")
    path = os.path.join(tempfile.mkdtemp(prefix="lsh_dml_"), "idx")
    idx = LSH.build(emb.where(F.col("vec_id") % 2 == 0), "embedding", path,
                    dim=64, nbits=5, metric="cosine")
    idx.insert(emb.where(F.col("vec_id") % 2 == 1))
    assert idx.meta["total_rows"] == emb.count()

    q = qvec(spark, SF_DIR, 1)

    def brute(exclude=()):
        df = emb
        if exclude:
            df = df.where(~F.col("vec_id").isin(list(exclude)))
        return [r["vec_id"] for r in df.select(
            "vec_id", cosine_distance("embedding", q).alias("d")
        ).orderBy(F.col("d").asc(), F.col("vec_id").asc()).limit(5).collect()]

    got = [r["vec_id"] for r in idx.search(
        spark, q, k=5, probe_hamming=5, tiebreak=["vec_id"]).collect()]
    assert got == brute()

    dead = brute()[:2]
    idx.delete(spark, dead)
    got = [r["vec_id"] for r in idx.search(
        spark, q, k=5, probe_hamming=5, tiebreak=["vec_id"]).collect()]
    assert got == brute(exclude=dead)

    # batch agrees with single under tombstones (partial radius)
    qrows = [(1, q)]
    batch = [r["vec_id"] for r in idx.search_batch(
        spark, qrows, k=5, probe_hamming=2, tiebreak=["vec_id"]).collect()]
    single = [r["vec_id"] for r in idx.search(
        spark, q, k=5, probe_hamming=2, tiebreak=["vec_id"]).collect()]
    assert batch == single

    with pytest.raises(ValueError, match="delete by"):
        idx.delete(spark, [3], id_col="other_id")
    with pytest.raises(ValueError, match="schema mismatch"):
        idx.insert(emb.withColumnRenamed("vec_id", "id2"))

    idx.vacuum(spark)
    assert not os.path.isdir(os.path.join(path, "tombstones"))
    assert idx.meta["total_rows"] == emb.count() - len(dead)
    got = [r["vec_id"] for r in idx.search(
        spark, q, k=5, probe_hamming=5, tiebreak=["vec_id"]).collect()]
    assert got == brute(exclude=dead)


@pytest.mark.prodconf
@pytest.mark.parametrize("kind", ["ivf", "ivf_assigned", "lsh"])
def test_build_data_schema_equals_inferred(spark, kind):
    """The ``data_schema`` a build stores is read from a written footer
    plus the partition directories, with no Spark job, and equals the
    schema Spark infers for the layout: every field nullable and the
    partition column typed by partition inference."""
    emb = _emb(spark).select("vec_id", "embedding").where(F.col("vec_id") < 120)
    path = os.path.join(tempfile.mkdtemp(prefix=f"{kind}_schema_"), "idx")
    if kind == "ivf":
        idx = IVFIndex.build(emb, "embedding", path, nlists=4, dim=DIM)
        part = "cluster_id"
    elif kind == "ivf_assigned":
        cents = [[float(i)] * DIM for i in range(3)]
        assigned = vec_route(emb, "embedding", cents, dim=DIM, out_col="cluster_id")
        idx = IVFIndex.from_assignment(assigned, "embedding", path, cents, dim=DIM)
        part = "cluster_id"
    else:
        idx = LSHIndex.build(emb, "embedding", path, dim=DIM, nbits=4)
        part = "bucket"
    data = os.path.join(path, "data")
    stored = T.StructType.fromJson(json.loads(idx.meta["data_schema"]))
    assert stored == spark.read.parquet(data).schema
    assert stored.fields[-1] == T.StructField(part, T.IntegerType(), True)
    got, jobs = jobs_run(spark, lambda: layout_schema(data, part))
    assert (got, jobs) == (idx.meta["data_schema"], 0)


@pytest.mark.prodconf
@pytest.mark.parametrize("kind", ["ivf", "lsh"])
def test_tombstones_lacking_recorded_key_raise(spark, kind):
    """Tombstones are read with the known single-column schema, under which
    a file without the recorded key column would read as nulls and the
    anti-join would silently keep soft-deleted rows; such a directory
    still raises, on every search route."""
    emb = _emb(spark).select("vec_id", "embedding").where(F.col("vec_id") < 120)
    path = os.path.join(tempfile.mkdtemp(prefix=f"{kind}_tombkey_"), "idx")
    if kind == "ivf":
        idx = IVFIndex.build(emb, "embedding", path, nlists=4)
    else:
        idx = LSHIndex.build(emb, "embedding", path, dim=DIM, nbits=4)
    spark.createDataFrame([(1,)], "other_id long").coalesce(1).write.parquet(
        os.path.join(path, "tombstones")
    )
    q = _query(spark)
    with pytest.raises(ValueError, match="lack the recorded key column 'vec_id'"):
        idx.search(spark, q, k=5)
    with pytest.raises(ValueError, match="lack the recorded key column 'vec_id'"):
        idx.search_batch(spark, [(1, q)], k=5)


@pytest.mark.prodconf
@pytest.mark.parametrize("seed", [1234, 271828, 31415])
def test_lsh_clustered_recall_gate_has_teeth(spark, seed):
    """r9 verdict #4: the planted-cluster recall floor (0.8 at
    probe_hamming=2) must be tight enough that a broken hyperplane
    signature turns the gate red. Healthy index passes; an index whose
    search-side planes are sign-flipped (query signatures land in the
    complement bucket, hamming nbits away from the data's) craters
    recall and raises. Parameterized over 3 planted-geometry seeds (r10
    verdict #5): a hyperplane-layout change can't overfit the single
    1234 geometry the gate row itself uses."""
    import pytest

    from neurondb_spark.index.lsh import LSHIndex
    from neurondb_spark.operators.knn import knn_batch
    from neurondb_spark.registry.index_queries import (
        _LSH_CL_FLOOR,
        planted_cluster_frame,
    )

    planted = planted_cluster_frame(spark, SF_DIR, seed=seed)
    path = os.path.join(tempfile.mkdtemp(prefix="lsh_cl_"), "idx")
    idx = LSHIndex.build(
        planted, "embedding", path, dim=64, nbits=8, seed=42,
        metric="cosine",
    )
    queries = planted.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = knn_batch(
        planted, "embedding", queries, k=10, metric="cosine",
        tiebreak=["vec_id"],
    ).select("qid", "vec_id")

    def recall(handle):
        hits = handle.search_batch(
            spark, queries, k=10, probe_hamming=2, tiebreak=["vec_id"]
        ).select("qid", "vec_id")
        return hits.join(exact, ["qid", "vec_id"], "left_semi").count() / 100.0

    assert recall(idx) >= _LSH_CL_FLOOR

    broken_meta = dict(idx.meta)
    broken_meta["planes"] = [
        [-w for w in plane] for plane in idx.meta["planes"]
    ]
    broken = LSHIndex(path, broken_meta)
    assert recall(broken) < _LSH_CL_FLOOR


def test_probe_clusters_fixed_matches_spark_bsum(spark):
    """The driver-side fixed-point centroid ranking must reproduce the
    Spark bsum expression bit-for-bit (same 2^40 grid, same HALF_UP on
    shortest-repr rounding) — the parity contract that lets
    ivf_knn_probe route without a Spark job."""
    import random

    from neurondb_spark.functions.aggregates import bsum
    from neurondb_spark.registry.index_queries import _probe_clusters_fixed

    rng = random.Random(99)
    for trial in range(5):
        k, dim = 8, 16
        cents = [[rng.uniform(-3, 3) for _ in range(dim)] for _ in range(k)]
        q = [rng.uniform(-3, 3) for _ in range(dim)]
        got = _probe_clusters_fixed(spark, cents, q, k)

        crows = [
            (ci, p + 1, float(v))
            for ci, c in enumerate(cents) for p, v in enumerate(c)
        ]
        cdf = spark.createDataFrame(
            crows, schema="cluster int, pos int, cval double"
        )
        qdf = spark.createDataFrame(
            [(p + 1, float(v)) for p, v in enumerate(q)],
            schema="pos int, qval double",
        )
        want = [
            r["cluster"]
            for r in cdf.join(qdf, "pos")
            .groupBy("cluster")
            .agg(bsum((F.col("cval") - F.col("qval"))
                      * (F.col("cval") - F.col("qval"))).alias("pd"))
            .orderBy(F.col("pd").asc(), F.col("cluster").asc())
            .collect()
        ]
        assert got == want, f"trial {trial}: {got} != {want}"


@pytest.mark.prodconf
def test_lsh_signature_matches_query_buckets(spark):
    """Every stored vector sits in the bucket the Python twin
    ``LSHIndex._query_buckets(v, 0)`` computes for it: the rendered SQL
    signature fold and the driver-side probe agree bit for bit, on the
    build path and on the insert path (they share signature_expr)."""
    from neurondb_spark.index import LSHIndex as LSH

    emb = _emb(spark).select("vec_id", "embedding").limit(500)
    path = os.path.join(tempfile.mkdtemp(prefix="lsh_sig_"), "idx")
    idx = LSH.build(emb.where(F.col("vec_id") % 2 == 0), "embedding", path,
                    dim=64, nbits=8, seed=123)
    idx.insert(emb.where(F.col("vec_id") % 2 == 1))
    rows = idx._read_data(spark).collect()
    assert len(rows) == 500
    for r in rows:
        v = [float(x) for x in r["embedding"]]
        assert idx._query_buckets(v, 0) == [r["bucket"]], r["vec_id"]
