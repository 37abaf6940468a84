"""Oracle-exact iterative trainers (ml/stats.py: kmeans_lloyd_exact,
logreg_gd_exact) — the gate proves bit-parity vs DuckDB; these tests
prove the SEMANTICS are right (real clustering / real separation), so
the exactness isn't vacuous."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from neurondb_spark.ml.stats import kmeans_lloyd_exact, logreg_gd_exact

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.mark.prodconf
def test_kmeans_partitions_all_rows(spark, emb):
    out = kmeans_lloyd_exact(emb, "embedding", "vec_id", k=4, iters=2)
    rows = out.collect()
    assert len(rows) == emb.count()  # every row assigned exactly once
    assert len({r["vec_id"] for r in rows}) == len(rows)
    clusters = {r["cluster"] for r in rows}
    assert clusters <= {0, 1, 2, 3} and len(clusters) >= 2


@pytest.mark.prodconf
def test_kmeans_iteration_improves_wcss(spark, emb):
    """2-iteration assignments must not have higher within-cluster scatter
    than the init assignment (Lloyd monotonicity)."""
    from neurondb_spark.functions.aggregates import davg

    def wcss(assign):
        from neurondb_spark.ml.stats import _explode_vec

        ex = _explode_vec(emb, "embedding", ["vec_id"])
        cent = assign.join(ex, "vec_id").groupBy("cluster", "pos").agg(
            davg("val").alias("cval"))
        return (
            assign.join(ex, "vec_id").join(cent, ["cluster", "pos"])
            .agg(F.sum((F.col("val") - F.col("cval")) ** 2).alias("s"))
            .head()["s"]
        )

    a1 = kmeans_lloyd_exact(emb, "embedding", "vec_id", k=4, iters=1)
    a2 = kmeans_lloyd_exact(emb, "embedding", "vec_id", k=4, iters=2)
    assert wcss(a2) <= wcss(a1) + 1e-9


def test_logreg_gd_beats_chance(spark, emb):
    df = emb.withColumn("y", (F.col("label") < 5).cast("double"))
    out = logreg_gd_exact(df, "embedding", "y", "vec_id", iters=2, lr=1.0)
    joined = out.join(df.select("vec_id", "y"), "vec_id")
    acc = joined.agg(
        F.avg((F.col("prediction") == F.col("y").cast("int")).cast("double"))
    ).head()[0]
    n1 = out.where(F.col("prediction") == 1).count()
    assert 0 < n1 < out.count()  # not a constant classifier
    assert acc > 0.5


def test_logreg_gd_learns_planted_signal(spark):
    """Separable toy data: dim 0 carries the label; 2 GD steps must find
    it."""
    rows = [(i, [1.0 if i % 2 else -1.0, 0.1], float(i % 2)) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, v array<double>, y double")
    out = logreg_gd_exact(df, "v", "y", "id", iters=2, lr=1.0).collect()
    assert all(r["prediction"] == r["id"] % 2 for r in out)


def test_als_exact_reconstructs_better_than_mean(spark):
    """Fixed-alternation rank-2 ALS (ml/stats.als_exact): after three
    ridge solves, p·q must reconstruct the ratings with lower SSE than
    the global-mean baseline, and be fully deterministic."""
    from neurondb_spark.ml.stats import als_exact

    rows = [
        (u, it, float(1 + ((u * 3 + hash_) % 5)))
        for u in range(30)
        for hash_, it in enumerate(["a", "b", "c", "d"])
        if (u + hash_) % 3  # sparse-ish
    ]
    df = spark.createDataFrame(rows, "user_id long, item string, rating double")
    p, q = als_exact(df, "user_id", "item", "rating", lam=0.1)
    rec = (
        df.join(p, "user_id").join(q, "item")
        .select(
            "user_id", "item", "rating",
            (F.col("p1") * F.col("q1") + F.col("p2") * F.col("q2"))
            .alias("pred"),
        )
    )
    mean = df.agg(F.avg("rating")).head()[0]
    sse_model, sse_mean = rec.agg(
        F.sum((F.col("rating") - F.col("pred")) ** 2),
        F.sum((F.col("rating") - F.lit(mean)) ** 2),
    ).head()
    assert sse_model < sse_mean
    # determinism: a second run is bit-identical
    p2, q2 = als_exact(df, "user_id", "item", "rating", lam=0.1)
    assert sorted(map(tuple, p.collect())) == sorted(map(tuple, p2.collect()))
    assert sorted(map(tuple, q.collect())) == sorted(map(tuple, q2.collect()))
