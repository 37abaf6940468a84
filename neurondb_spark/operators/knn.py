"""kNN / top-k search operators (SURVEY §2.5).

The canonical reference query is ``SELECT … ORDER BY v <-> $q LIMIT k``
(NeuronDB/demo/vector/demo_vector.sql:45-69). In Spark that plan shape is
``orderBy(dist).limit(k)`` → TakeOrderedAndProject: each partition keeps a
local top-k heap, the driver merges partials — the scatter-gather the
reference fakes with SQL stubs (src/util/distributed.c:53-539) is native
here and scales to any partition count with no full sort and no shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from neurondb_spark.functions.distance import distance


def knn(
    df: DataFrame,
    vec_col: str,
    query,
    k: int = 10,
    metric: str = "l2",
    dim: int | None = None,
    dist_col: str = "distance",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Exact kNN: distance to ``query`` + top-k.

    Reference: ORDER BY `<->` LIMIT k (demo_vector.sql:45-54); with an HNSW/
    IVF index the reference approximates this — our exact form IS the
    correctness definition both test against. ``tiebreak`` columns make the
    result deterministic under distance ties.
    """
    d = distance(vec_col, query, metric, dim=dim, checked=False)
    out = df.withColumn(dist_col, d)
    order = [F.col(dist_col).asc(), *[F.col(c).asc() for c in tiebreak]]
    return out.orderBy(*order).limit(k)


def knn_classify(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    query,
    k: int = 10,
    metric: str = "l2",
    dim: int | None = None,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """kNN majority vote (src/ml/ml_knn.c:112): top-k then groupBy(label).

    Returns one row: (predicted label, vote count). Ties broken by label
    order for determinism.
    """
    top = knn(df, vec_col, query, k=k, metric=metric, dim=dim, tiebreak=tiebreak)
    return (
        top.groupBy(F.col(label_col).alias("label"))
        .agg(F.count("*").alias("votes"))
        .orderBy(F.col("votes").desc(), F.col("label").asc())
        .limit(1)
    )


def knn_regress(
    df: DataFrame,
    vec_col: str,
    target_col: str,
    query,
    k: int = 10,
    metric: str = "l2",
    dim: int | None = None,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """kNN mean of neighbor targets (src/ml/ml_knn.c:363)."""
    from neurondb_spark.functions.aggregates import davg

    top = knn(df, vec_col, query, k=k, metric=metric, dim=dim, tiebreak=tiebreak)
    # davg: order-independent exact mean — the k-row sum must not depend
    # on partition arrival order (hash-gate discipline)
    return top.agg(davg(target_col).alias("prediction"))


def multi_vector_search(
    df: DataFrame,
    vec_col: str,
    queries: Sequence[Sequence[float]],
    k: int = 10,
    metric: str = "l2",
    agg: str = "min",
    dim: int | None = None,
    dist_col: str = "distance",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Multi-query fusion (hybrid_search.c:689): per-query distances fused
    with min/max/avg, then top-k. Computed as N narrow per-row expressions —
    no join, no shuffle."""
    dists = [
        distance(vec_col, q, metric, dim=dim, checked=False)
        for q in queries
    ]
    if agg == "min":
        fused = F.least(*dists) if len(dists) > 1 else dists[0]
    elif agg == "max":
        fused = F.greatest(*dists) if len(dists) > 1 else dists[0]
    elif agg == "avg":
        s = dists[0]
        for d in dists[1:]:
            s = s + d
        fused = s / float(len(dists))
    else:
        raise ValueError(f"neurondb: unknown fusion agg {agg!r}")
    out = df.withColumn(dist_col, fused)
    order = [F.col(dist_col).asc(), *[F.col(c).asc() for c in tiebreak]]
    return out.orderBy(*order).limit(k)


def faceted_vector_search(
    df: DataFrame,
    vec_col: str,
    query,
    facet_col: str,
    per_facet_k: int = 3,
    metric: str = "l2",
    dim: int | None = None,
    dist_col: str = "distance",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Top-k per facet (hybrid_search.c:878): window rank inside facet
    partitions — one shuffle on the facet key, skew-safe under AQE."""
    d = distance(vec_col, query, metric, dim=dim, checked=False)
    w = W.partitionBy(facet_col).orderBy(
        F.col(dist_col).asc(), *[F.col(c).asc() for c in tiebreak]
    )
    return (
        df.withColumn(dist_col, d)
        .withColumn("facet_rank", F.row_number().over(w))
        .where(F.col("facet_rank") <= per_facet_k)
    )


def temporal_vector_search(
    df: DataFrame,
    vec_col: str,
    query,
    ts_col: str,
    now,
    decay: float = 0.01,
    k: int = 10,
    metric: str = "cosine",
    dim: int | None = None,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Similarity × exponential time decay (hybrid_search.c:1005,
    neurondb--1.0.sql:3095-3106): score = (1-dist) * exp(-decay * age_days).

    ``now`` is an explicit timestamp literal (string) so results are
    deterministic/oracle-checkable — the reference uses now().
    """
    d = distance(vec_col, query, metric, dim=dim, checked=False)
    age_days = (
        F.lit(now).cast("timestamp").cast("double") - F.col(ts_col).cast("double")
    ) / F.lit(86400.0)
    score = (1.0 - d) * F.exp(-F.lit(float(decay)) * age_days)
    out = df.withColumn("temporal_score", score)
    order = [F.col("temporal_score").desc(), *[F.col(c).asc() for c in tiebreak]]
    return out.orderBy(*order).limit(k)


def vec_window_rank(
    df: DataFrame,
    vec_col: str,
    query,
    partition_col: str,
    metric: str = "l2",
    dim: int | None = None,
    dist_col: str = "distance",
    rank_col: str = "vrank",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Rank by distance within partitions (operators.c:1112-1154)."""
    d = distance(vec_col, query, metric, dim=dim, checked=False)
    w = W.partitionBy(partition_col).orderBy(
        F.col(dist_col).asc(), *[F.col(c).asc() for c in tiebreak]
    )
    return df.withColumn(dist_col, d).withColumn(rank_col, F.rank().over(w))


def vec_route(
    df: DataFrame,
    vec_col: str,
    centroids: Sequence[Sequence[float]],
    metric: str = "l2",
    dim: int | None = None,
    out_col: str = "route",
) -> DataFrame:
    """Nearest-centroid routing (operators.c:1155+): argmin over a small
    centroid list, computed per-row with centroids inlined as literals (no
    join, no shuffle). Implemented as array_min over (distance, idx)
    structs — struct ordering gives the argmin with a deterministic
    lowest-index tie-break, and each distance subtree appears exactly once
    (a nested when-chain would duplicate subtrees exponentially); one SQL
    expression."""
    pairs = ", ".join(
        f"named_struct('d', {distance.sql(vec_col, c, metric, dim=dim, checked=False)}, 'i', {i})"
        for i, c in enumerate(centroids)
    )
    return df.withColumn(out_col, F.expr(f"array_min(array({pairs})).i"))


def knn_batch(
    df: DataFrame,
    vec_col: str,
    queries,
    k: int = 10,
    metric: str = "l2",
    dim: int | None = None,
    dist_col: str = "distance",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Exact batch kNN: top-k for EVERY query of a small batch in ONE
    plan — broadcast the query set, compute distances in the scan, and
    take per-query top-k with a window (the brute-force kNN-join shape;
    `ann_batch_topk` is the oracle-checked registry twin). ``queries``
    is a list of (qid, vector) pairs or a small DataFrame with
    (qid, vector) columns. At scale this is the right baseline when the
    batch is small relative to the corpus: one full scan amortized over
    all queries, no shuffle except the window's per-qid ordering."""
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    spark = df.sparkSession
    if isinstance(queries, DataFrame):
        qrows = [(int(r[0]), r[1]) for r in queries.collect()]
    else:
        qrows = [(int(a), v) for a, v in queries]
    qschema = T.StructType([
        T.StructField("qid", T.LongType()),
        T.StructField("_qvec", T.ArrayType(T.DoubleType())),
    ])
    qdf = spark.createDataFrame(
        [(qid, [float(x) for x in v]) for qid, v in qrows], schema=qschema
    )
    d = distance(vec_col, "_qvec", metric, dim=dim, checked=False)
    w = Window.partitionBy("qid").orderBy(
        F.col(dist_col).asc(), *[F.col(c).asc() for c in (tiebreak or [])]
    )
    return (
        df.crossJoin(F.broadcast(qdf))
        .withColumn(dist_col, d)
        .drop("_qvec")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(k))
        .drop("_rn")
    )
