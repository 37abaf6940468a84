"""Clustering-quality metrics + similarity histogram (SURVEY §2.8).

Reference: davies_bouldin_index (ml_davies_bouldin.c:125),
similarity_histogram (ml_histogram.c:73).

All exact expressions: centroids via decimal-exact sums, scatters and
pairwise centroid distances as per-row double math — oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neurondb_spark.functions.aggregates import bsum, dsum
from neurondb_spark.functions.distance import l2_distance


def cluster_centroids(df: DataFrame, vec_col: str, label_col: str) -> DataFrame:
    """(label, centroid array<double>) via exact per-position means."""
    ex = df.select(
        F.col(label_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"),
    )
    per_pos = ex.groupBy(label_col, "pos").agg(
        (dsum(F.col("v"), scale=9) / F.count(F.lit(1))).alias("c")
    )
    return per_pos.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("centroid")
    )


def davies_bouldin(df: DataFrame, vec_col: str, label_col: str, dim: int) -> DataFrame:
    """DB index: mean over clusters of max_{j≠i} (S_i+S_j)/M_ij, with
    S_i = mean distance to centroid, M_ij = centroid distance."""
    cents = cluster_centroids(df, vec_col, label_col).cache()
    joined = df.join(cents, label_col)
    d = l2_distance(vec_col, "centroid", checked=False)
    scatter = joined.select(F.col(label_col), d.alias("_d")).groupBy(label_col).agg(
        (bsum(F.col("_d")) / F.count(F.lit(1))).alias("s")
    )
    cs = cents.join(scatter, label_col)
    a = cs.select(
        F.col(label_col).alias("la"), F.col("centroid").alias("ca"), F.col("s").alias("sa")
    )
    b = cs.select(
        F.col(label_col).alias("lb"), F.col("centroid").alias("cb"), F.col("s").alias("sb")
    )
    pairs = a.join(b, F.col("la") != F.col("lb"))
    m = l2_distance("ca", "cb", checked=False)
    r = pairs.select("la", ((F.col("sa") + F.col("sb")) / m).alias("r"))
    worst = r.groupBy("la").agg(F.max("r").alias("worst"))
    return worst.agg((bsum(F.col("worst")) / F.count(F.lit(1))).alias("davies_bouldin"))


def similarity_histogram(
    df: DataFrame, vec_col: str, id_col: str, query, dim: int | None,
    bins: int = 10, lo: float = -1.0, hi: float = 1.0,
) -> DataFrame:
    """Histogram of cosine similarities to a query over [lo, hi):
    (bin, count) with bin = floor((sim−lo)/width) clamped to [0, bins−1]."""
    from neurondb_spark.functions.distance import cosine_similarity

    sim = cosine_similarity(vec_col, query, dim=dim, checked=False)
    width = (hi - lo) / bins
    bin_ = F.least(
        F.greatest(F.floor((sim - lo) / width), F.lit(0)), F.lit(bins - 1)
    ).cast("int")
    return (
        df.select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
