"""DBSCAN, AutoML, ALS, ops-surface tests."""

import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tests.conftest import SF_DIR, dbscan_reference, jobs_run  # noqa: E402


def _planted_points():
    # two tight planted clusters + isolated noise points
    rows = []
    for i in range(20):
        rows.append((i, [0.0 + i * 0.01, 0.0]))
    for i in range(20, 40):
        rows.append((i, [10.0 + (i - 20) * 0.01, 10.0]))
    rows += [(100, [50.0, 50.0]), (101, [-50.0, 30.0])]
    return rows


def _dbscan(spark, rows, eps, min_samples):
    from neurondb_spark.ml.dbscan import dbscan

    df = spark.createDataFrame(rows, "id int, v array<double>")
    out = dbscan(df, "v", "id", eps=eps, min_samples=min_samples,
                 allow_cross=True)
    return {r["id"]: r["cluster"] for r in out.collect()}


# Spark jobs one dbscan call runs (collect included), keyed by
# spark.sql.adaptive.enabled. Measured: the grouped pass is one job with
# AQE off; AQE runs its shuffle map stage as a job of its own.
DBSCAN_JOB_BUDGET = {"false": 1, "true": 2}


def _dbscan_jobs(spark, rows, eps, min_samples):
    got, jobs = jobs_run(spark, lambda: _dbscan(spark, rows, eps, min_samples))
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    assert jobs <= DBSCAN_JOB_BUDGET[aqe], jobs
    return got


@pytest.mark.prodconf
def test_dbscan_finds_planted_clusters(spark):
    rows = _planted_points()
    got = _dbscan_jobs(spark, rows, eps=0.5, min_samples=3)
    c0 = {got[i] for i in range(20)}
    c1 = {got[i] for i in range(20, 40)}
    assert len(c0) == 1 and len(c1) == 1 and c0 != c1
    assert got[100] == -1 and got[101] == -1
    assert got == dbscan_reference(rows, eps=0.5, min_samples=3)


@pytest.mark.prodconf
def test_dbscan_isolated_core_labels_itself_and_its_borders(spark):
    # 0 is core (itself + two neighbours at 0.4); 1 and 2 are 0.8 apart,
    # so each has degree 2: border points of a core with no core neighbour
    rows = [(0, [0.0, 0.0]), (1, [-0.4, 0.0]), (2, [0.4, 0.0])]
    rows += [(10 + k, [5.0 + 0.1 * k, 5.0]) for k in range(5)]
    rows += [(99, [50.0, 50.0])]
    got = _dbscan(spark, rows, eps=0.5, min_samples=3)
    assert got == dbscan_reference(rows, eps=0.5, min_samples=3)
    assert got[0] == got[1] == got[2] == 0 and got[99] == -1


@pytest.mark.prodconf
def test_dbscan_all_noise(spark):
    rows = _planted_points()
    got = _dbscan_jobs(spark, rows, eps=0.5, min_samples=50)
    assert got == {i: -1 for i, _v in rows}
    assert got == dbscan_reference(rows, eps=0.5, min_samples=50)


@pytest.mark.prodconf
def test_dbscan_blocks_nulls_and_schema(spark):
    """Three label blocks whose points would cluster across blocks if the
    key were ignored, plus a null-label, a null-vector and a null-id row
    (inside a cluster): each block equals the reference on its own rows,
    the null rows are noise and join no cluster, and (id, cluster) keep
    the id column's type."""
    from neurondb_spark.ml.dbscan import dbscan

    pts = _planted_points()
    rows = [(i, lab, v) for lab in range(3) for i, v in
            ((i + 1000 * lab, v) for i, v in pts[lab::3])]
    rows += [(5000, None, [0.0, 0.0]), (5001, 0, None), (None, 1, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "id long, label int, v array<double>")
    out = dbscan(df, "v", "id", eps=0.5, min_samples=2, on=["label"], dim=2)
    assert dict(out.dtypes) == {"id": "bigint", "cluster": "bigint"}
    got = {r["id"]: r["cluster"] for r in out.collect()}
    want = {5000: -1, 5001: -1, None: -1}
    for lab in range(3):
        want.update(dbscan_reference(
            [(i, v) for i, la, v in rows if la == lab and None not in (i, v)],
            eps=0.5, min_samples=2,
        ))
    assert got == want
    assert len({c for c in got.values() if c != -1}) >= 4  # clusters in 3 blocks
    with pytest.raises(ValueError, match="block key"):
        dbscan(df, "v", "id", eps=0.5)
    with pytest.raises(Exception, match="dimension mismatch"):
        dbscan(df, "v", "id", eps=0.5, on=["label"], dim=3).collect()


def test_cv_pool_size():
    from neurondb_spark.ml.automl import cv_pool_size

    # sequential below 8 cores, a floor of 2 from 8, a cap of 3
    assert [cv_pool_size(c, 4) for c in (1, 4, 7, 8, 12, 15, 16, 24, 64)] == [
        1, 1, 1, 2, 2, 2, 2, 3, 3]
    assert cv_pool_size(64, 2) == 2 and cv_pool_size(8, 1) == 1


def test_auto_train_leaderboard(spark):
    from neurondb_spark.catalog import Catalog
    from neurondb_spark.ml.automl import auto_train

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "y", (F.col("label") < 5).cast("double")
    )
    cat = Catalog(tempfile.mkdtemp(prefix="automl_"))
    res = auto_train(
        emb, ["embedding"], "y", task="classification",
        candidates=["logistic_regression", "naive_bayes"], folds=2, catalog=cat,
    )
    assert res["best"] is not None
    assert len(res["leaderboard"]) == 2
    assert "model_id" in res
    assert cat.get("models", res["model_id"])["status"] == "ready"


def test_cross_validate_param_grid(spark):
    from neurondb_spark.ml.automl import cross_validate

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "y", (F.col("label") < 5).cast("double")
    )
    res = cross_validate(
        emb, "logistic_regression", ["embedding"], "y",
        param_grid={"regParam": [0.0, 0.5]}, folds=2,
    )
    assert len(res["all_scores"]) == 2
    assert res["best_params"]["regParam"] in (0.0, 0.5)


def test_als_recommender(spark):
    from neurondb_spark.catalog import Catalog
    from neurondb_spark.ml.api import MLEngine
    from neurondb_spark.registry.common import events as load_events

    ev = load_events(spark, SF_DIR)
    ratings = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("float").alias("rating"))
        .withColumn("item_id", F.abs(F.hash("event_type")) % 1000)
    )
    eng = MLEngine(Catalog(tempfile.mkdtemp(prefix="als_")))
    mid = eng.train(
        ratings, "collaborative_filter", features=[], target=None,
        params={"userCol": "user_id", "itemCol": "item_id", "ratingCol": "rating", "rank": 4},
    )
    model, meta = eng._load(mid)
    recs = model.recommendForAllUsers(2)
    assert recs.count() > 0
    assert {"user_id", "recommendations"} <= set(recs.columns)


def test_ops_surface(spark):
    from neurondb_spark.catalog import Catalog
    from neurondb_spark.ops import (
        Metrics,
        QuotaManager,
        assert_recall,
        assert_vector_equal,
        health,
        tenant_view,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b"), (1, "c")], "tenant int, v string")
    assert tenant_view(df, "tenant", 1).count() == 2

    qm = QuotaManager(Catalog(tempfile.mkdtemp(prefix="quota_")))
    qm.set_quota("t1", 100)
    assert qm.check_and_consume("t1", 60)
    assert not qm.check_and_consume("t1", 60)
    qm.reset("t1")
    assert qm.check_and_consume("t1", 60)
    assert qm.usage("t1")["used_rows"] == 60

    m = Metrics()
    m.incr("knn_queries")
    with m.time("knn"):
        pass
    assert "neurondb_knn_queries 1" in m.prometheus()
    assert m.to_df(spark).count() == 3

    h = health(spark)
    assert h["status"] == "ok" and h["default_parallelism"] >= 1

    assert_vector_equal([1.0, 2.0], [1.0, 2.0])
    with pytest.raises(AssertionError):
        assert_vector_equal([1.0], [1.0, 2.0])
    assert assert_recall([1, 2, 3], [1, 2], 0.5) == 1.0
    with pytest.raises(AssertionError):
        assert_recall([9], [1, 2], 0.5)


def test_explain_shows_pushdown(spark):
    from neurondb_spark.ops import explain_vector_query

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").where(
        F.col("l_quantity") > 40
    ).select("l_orderkey", "l_quantity")
    plan = explain_vector_query(df)
    assert "PushedFilters" in plan and "l_quantity" in plan


def test_topic_discovery(spark):
    from neurondb_spark.ml.topics import discover_topics

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = discover_topics(docs, emb, "text", "doc_id", "vec_id", "embedding",
                          n_topics=3, top_terms=4)
    rows = out.collect()
    topics = {r["topic"] for r in rows}
    assert topics == {0, 1, 2}
    for t in topics:
        ranks = [r["term_rank"] for r in rows if r["topic"] == t]
        assert ranks == [1, 2, 3, 4]


def test_whitening_unit_variance(spark):
    from pyspark.sql import functions as F

    from neurondb_spark.ml.topics import whiten_embeddings

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = whiten_embeddings(emb, "embedding", k=4)
    stats = out.select(
        *[F.stddev_pop(F.col("whitened")[i]).alias(f"s{i}") for i in range(4)]
    ).head()
    for i in range(4):
        assert abs(stats[f"s{i}"] - 1.0) < 1e-6


def test_exact_ensembles_through_catalog(spark):
    """gbt_exact / rf_exact through train/predict/evaluate: the model is
    a JSON stump list in the catalog, predict is a rebuilt literal
    expression, retraining is bit-identical (no seeds involved)."""
    from neurondb_spark.engine import NeuronSparkEngine

    eng = NeuronSparkEngine(spark, tempfile.mkdtemp(prefix="exact_ens_"))
    rows = [(float(i), float(x), float(d), 10.0 * x + 100.0 * d)
            for i, (x, d) in enumerate(
                (x, d) for x in range(1, 11) for d in (0.0, 1.0, 2.0))]
    df = spark.createDataFrame(rows, ["rid", "x", "d", "y"])

    mid = eng.train(df, "gbt_exact", ["x", "d"], "y",
                    params={"grid": {"x": [3.0, 5.0, 7.0],
                                     "d": [0.0, 1.0]},
                            "rounds": 3, "lr": 1.0})
    meta = eng.catalog.get("models", mid)
    assert meta["model_class"] == "ExactStumpEnsemble"
    assert len(meta["model"]["stumps"]) == 3
    pred = eng.predict(df, mid)
    ev = eng.evaluate(df, mid)
    assert ev["r2"] > 0.9
    mid2 = eng.train(df, "gbt_exact", ["x", "d"], "y",
                     params={"grid": {"x": [3.0, 5.0, 7.0],
                                      "d": [0.0, 1.0]},
                             "rounds": 3, "lr": 1.0})
    assert eng.catalog.get("models", mid2)["model"] == meta["model"]

    rid = eng.train(df, "rf_exact", ["x", "d"], "y",
                    params={"grid": {"x": [3.0, 5.0, 7.0],
                                     "d": [0.0, 1.0]},
                            "trees": 3, "key_col": "rid"})
    rmeta = eng.catalog.get("models", rid)
    assert len(rmeta["model"]["trees"]) == 3
    assert eng.predict(df, rid).select("prediction").count() == len(rows)

    import pytest as _pt
    with _pt.raises(ValueError, match="key_col"):
        eng.train(df, "rf_exact", ["x"], "y", params={})
    algos = {a["algorithm"] for a in eng.list_algorithms()}
    assert {"gbt_exact", "rf_exact"} <= algos
