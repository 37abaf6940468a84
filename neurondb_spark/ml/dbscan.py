"""DBSCAN over vector columns (SURVEY §2.8; reference
NeuronDB/src/ml/ml_dbscan.c:184 — single-node, 200k cap).

Spark-first, no MLlib native:
1. eps-neighborhood pairs via the blocked similarity join (vec_join
   machinery — block key required at scale; cluster-prune blocks from a
   coarse KMeans routing, or LSH buckets + neighbor probing).
2. core points = points with ≥ min_samples neighbors (incl. self).
3. clusters = connected components over the core-core edge graph
   (self-pairs included, so an isolated core is a cluster of its own).
4. border points attach to any core neighbor's cluster; the rest = noise
   (cluster −1).

Every step is joins + aggregations — distributes to any size; the
reference's RAM matrix is the thing this design removes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neurondb_spark.operators.graph import connected_components
from neurondb_spark.operators.joins import vec_join


def dbscan(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    eps: float,
    min_samples: int = 5,
    on: list[str] | None = None,
    dim: int | None = None,
    allow_cross: bool = False,
) -> DataFrame:
    """Returns (id, cluster) with cluster = min core-point id of the
    cluster, or −1 for noise."""
    right = df.select(F.col(id_col).alias("_rid"), F.col(vec_col).alias("_rvec"),
                      *[F.col(c) for c in (on or [])])
    left = df.select(F.col(id_col), F.col(vec_col), *[F.col(c) for c in (on or [])])
    if isinstance(on, list) and len(on) == 1:
        # per-block BLAS path: same exact-fold distances on survivors
        # (vec_join_gemm recomputes + re-filters), ~5× the HOF join's
        # throughput at sf0.1 — the eps-join dominates DBSCAN's cost
        from neurondb_spark.operators.joins import vec_join_gemm

        pairs = vec_join_gemm(
            left, right, vec_col, "_rvec", id_col, "_rid",
            threshold=eps, on=on[0], dim=dim,
        ).select(F.col(id_col).alias("a"), F.col("_rid").alias("b"))
    else:
        pairs = vec_join(
            left, right, vec_col, "_rvec", threshold=eps, on=on, dim=dim,
            allow_cross=allow_cross,
        ).select(F.col(id_col).alias("a"), F.col("_rid").alias("b"))
    # The eps-join is the expensive stage and every later step consumes
    # it (degrees, both ends of the core-core edges, border attach) — the
    # unchecked plan re-evaluated the GEMM cogroup subtree 10x in one
    # action (plans/r15/dbscan_clusters_before.txt: 10 FlatMapCoGroups-
    # InPandas nodes, 42 parquet scans). Lazy localCheckpoint: computed
    # once inside the first consuming job, lineage truncated (guide §5
    # persist-on-reuse).
    pairs = pairs.localCheckpoint(eager=False)
    # neighbor counts include self-pair (distance 0)
    degrees = pairs.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    core = degrees.where(F.col("deg") >= min_samples).select(F.col("a").alias("id"))
    # core is consumed 3x (both ends of core_edges, border)
    core = core.localCheckpoint(eager=False)
    # every point's eps-pairs include its self-pair, so every core point
    # is an endpoint of the core-core edges and connected_components
    # (which adds a self-loop per endpoint) labels isolated cores too
    core_edges = (
        pairs.join(core.withColumnRenamed("id", "a"), "a")
        .join(core.withColumnRenamed("id", "b"), "b")
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    core_labels = connected_components(core_edges)  # (node, comp) per core
    # border: non-core with a core neighbor → min core neighbor's cluster
    border = (
        pairs.join(core.withColumnRenamed("id", "b"), "b")
        .join(core.withColumnRenamed("id", "a"), "a", "left_anti")
        .join(core_labels.withColumnRenamed("node", "b"), "b")
        .groupBy(F.col("a").alias("id"))
        .agg(F.min("comp").alias("cluster"))
    )
    labeled = core_labels.select(F.col("node").alias("id"), F.col("comp").alias("cluster")).unionByName(border)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(labeled, "id", "left")
        .select("id", F.coalesce(F.col("cluster"), F.lit(-1)).alias("cluster"))
    )
