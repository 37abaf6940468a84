"""Closed-form / statistical ML operators as exact DataFrame expressions —
the oracle-checkable half of SURVEY §2.8.

- simple linear regression (normal equations over exact decimal sums) —
  semantics of train_linear_regression (ml_linear_regression.c:1108) for
  the 1-feature case, with NO 200k row cap.
- z-score outliers (detect_outliers_zscore, ml_outlier_detection.c:99)
- centroid drift (detect_centroid_drift, ml_drift_detection.c:72)
- kNN classify vote (ml_knn.c:112)
- retrieval metrics (recall@k / precision@k, ml_recall_metrics.c:64-271)

Each function returns a DataFrame whose values are reproducible bit-for-bit
by portable SQL: cross-row sums go through DECIMAL(38,6+) and all per-row
math is IEEE double.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from neurondb_spark.functions.aggregates import bsum, dsum


def simple_linreg(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """OLS slope/intercept/r for y ~ x via exact sums:
    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²). One aggregation pass."""
    n = F.count(F.lit(1)).cast("double")
    sx = dsum(F.col(x_col))
    sy = dsum(F.col(y_col))
    sxy = dsum(F.col(x_col) * F.col(y_col))
    sxx = dsum(F.col(x_col) * F.col(x_col))
    syy = dsum(F.col(y_col) * F.col(y_col))
    agg = df.agg(
        n.alias("n"), sx.alias("sx"), sy.alias("sy"),
        sxy.alias("sxy"), sxx.alias("sxx"), syy.alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        (r * r).alias("r2"),
    )


def sql_simple_linreg(table: str, x: str, y: str, dsum_sql) -> str:
    """DuckDB oracle for :func:`simple_linreg`."""
    return f"""WITH s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {dsum_sql(x)} AS sx, {dsum_sql(y)} AS sy,
         {dsum_sql(f'{x} * {y}')} AS sxy,
         {dsum_sql(f'{x} * {x}')} AS sxx,
         {dsum_sql(f'{y} * {y}')} AS syy
  FROM {table})
SELECT CAST(n AS BIGINT) AS n,
  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
  (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept,
  (((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
   * ((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))) AS r2
FROM s"""


def zscore_outliers(
    df: DataFrame, value_col: str, group_cols: list[str] | None = None,
    threshold: float = 3.0, id_cols: list[str] | None = None,
) -> DataFrame:
    """|x − μ| / σ > threshold (population σ), μ/σ from exact decimal sums
    (detect_outliers_zscore, ml_outlier_detection.c:99). Two-pass: one
    aggregation + one broadcast join back — no window over the whole table,
    so it scales to any group size."""
    g = group_cols or []
    stats = df.groupBy(*g).agg(
        dsum(F.col(value_col)).alias("_s"),
        dsum(F.col(value_col) * F.col(value_col)).alias("_ss"),
        F.count(F.lit(1)).cast("double").alias("_n"),
    )
    stats = stats.select(
        *g,
        (F.col("_s") / F.col("_n")).alias("_mean"),
        F.sqrt(F.col("_ss") / F.col("_n") - (F.col("_s") / F.col("_n")) * (F.col("_s") / F.col("_n"))).alias("_std"),
    )
    joined = df.join(F.broadcast(stats), on=g) if g else df.crossJoin(F.broadcast(stats))
    z = (F.col(value_col) - F.col("_mean")) / F.col("_std")
    out_cols = (id_cols or []) + g + [value_col]
    return (
        joined.withColumn("zscore", z)
        .where(F.abs(F.col("zscore")) > threshold)
        .select(*out_cols, "zscore")
    )


def centroid_drift(
    df_a: DataFrame, df_b: DataFrame, vec_col: str, dim: int
) -> DataFrame:
    """detect_centroid_drift (ml_drift_detection.c:72): L2 distance between
    element-wise centroids of two cohorts. Centroids via exact decimal
    sums / counts; distance over the dim positions."""
    def centroid(df: DataFrame, tag: str) -> DataFrame:
        ex = df.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"))
        return ex.groupBy("pos").agg(
            (dsum(F.col("v"), scale=9) / F.count(F.lit(1))).alias(tag)
        )

    a = centroid(df_a, "ca")
    b = centroid(df_b, "cb")
    j = a.join(b, "pos")
    return j.agg(
        F.sqrt(bsum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))).alias("centroid_drift")
    )


def distribution_divergence(
    df_baseline: DataFrame, df_current: DataFrame, vec_col: str
) -> DataFrame:
    """compute_distribution_divergence (ml_drift_detection.c:279-460):
    per-dimension Gaussian KL approximation between two embedding cohorts —
    KL(P‖Q) ≈ Σ_d 0.5·[log(σq²/σp²) + σp²/σq² + (μp−μq)²/σq² − 1], with
    dimensions whose variance < 1e-10 skipped (the reference's guard).
    Population variance (÷n), like the reference.

    Exactness: means via decimal sums, scatter and the final over-dims sum
    via bsum (binary fixed-point) — order-independent, so a SQL oracle
    matches bit-for-bit. Two aggregation passes per cohort (mean, then
    centered variance), shuffling only on the 64-row pos key."""
    def stats(df: DataFrame, mtag: str, vtag: str) -> DataFrame:
        ex = df.select(
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v")
        )
        m = ex.groupBy("pos").agg(
            (dsum(F.col("v"), scale=9) / F.count(F.lit(1))).alias(mtag),
            F.count(F.lit(1)).cast("double").alias("_n"),
        )
        j = ex.join(F.broadcast(m), "pos")
        return j.groupBy("pos").agg(
            F.first(mtag).alias(mtag),
            (
                bsum((F.col("v") - F.col(mtag)) * (F.col("v") - F.col(mtag)))
                / F.first("_n")
            ).alias(vtag),
        )

    b = stats(df_baseline, "mb", "vb")
    c = stats(df_current, "mc", "vc")
    j = b.join(c, "pos")
    var_ratio = F.col("vc") / F.col("vb")
    md = F.col("mb") - F.col("mc")
    term = F.when(
        (F.col("vb") < 1e-10) | (F.col("vc") < 1e-10), F.lit(0.0)
    ).otherwise(
        0.5 * (F.log(var_ratio) + 1.0 / var_ratio + md * md / F.col("vc") - 1.0)
    )
    return j.agg(bsum(term).alias("kl_divergence"))


def js_divergence_histogram(
    df_p: DataFrame, df_q: DataFrame, value_col: str,
    lo: float, hi: float, bins: int = 20,
) -> DataFrame:
    """Jensen-Shannon divergence between two scalar distributions over a
    fixed width_bucket histogram (the monitor-drift companion to the
    Gaussian KL above; histogram drift per ml_drift_time.c / the
    monitoring SQL surface neurondb--1.0.sql:1663-1675).

    Deterministic binning: bin = clamp(floor((x−lo)/w), 0, bins−1); empty
    bins contribute 0 via the 0·log(0)=0 convention (m>0 whenever p>0 or
    q>0). All per-bin math is IEEE double on exact integer counts, summed
    over the (tiny) bin axis with bsum — bit-reproducible in SQL."""
    w = (hi - lo) / bins

    def hist(df: DataFrame, tag: str) -> DataFrame:
        b = F.least(
            F.greatest(
                F.floor((F.col(value_col) - F.lit(lo)) / F.lit(w)), F.lit(0)
            ),
            F.lit(bins - 1),
        ).cast("int")
        return df.groupBy(b.alias("bin")).agg(F.count(F.lit(1)).alias(tag))

    p = hist(df_p, "np_")
    q = hist(df_q, "nq_")
    tp = df_p.count()
    tq = df_q.count()
    j = p.join(q, "bin", "full").select(
        "bin",
        (F.coalesce(F.col("np_"), F.lit(0)).cast("double") / tp).alias("p"),
        (F.coalesce(F.col("nq_"), F.lit(0)).cast("double") / tq).alias("q"),
    )
    m = (F.col("p") + F.col("q")) / 2.0
    term = (
        F.when(F.col("p") > 0.0, 0.5 * F.col("p") * F.log(F.col("p") / m))
        .otherwise(F.lit(0.0))
        + F.when(F.col("q") > 0.0, 0.5 * F.col("q") * F.log(F.col("q") / m))
        .otherwise(F.lit(0.0))
    )
    return j.agg(bsum(term).alias("js_divergence"))


def knn_classify_vote(
    df: DataFrame, vec_col: str, label_col: str, query, k: int,
    dim: int | None = None, id_col: str = "vec_id",
) -> DataFrame:
    """kNN vote counts per label (ml_knn.c:112) — fully deterministic with
    id tiebreak, so oracle-checkable end to end."""
    from neurondb_spark.operators.knn import knn

    top = knn(df, vec_col, query, k=k, metric="l2", dim=dim, tiebreak=[id_col])
    return (
        top.groupBy(F.col(label_col).alias("label"))
        .agg(F.count(F.lit(1)).alias("votes"))
        .orderBy(F.col("votes").desc(), F.col("label").asc())
    )


def label_recall_at_k(
    df: DataFrame, vec_col: str, label_col: str, query, query_label: int,
    k: int, dim: int | None = None, id_col: str = "vec_id",
) -> DataFrame:
    """recall_at_k analog (ml_recall_metrics.c:64): fraction of the top-k
    whose label matches the query's label."""
    from neurondb_spark.operators.knn import knn

    top = knn(df, vec_col, query, k=k, metric="l2", dim=dim, tiebreak=[id_col])
    return top.agg(
        (
            F.sum(F.when(F.col(label_col) == query_label, 1).otherwise(0)).cast("double")
            / F.lit(float(k))
        ).alias("recall_at_k")
    )


# ------------------------------------------------- exact iterative ML
#
# Fixed-iteration, fixed-init variants of KMeans and logistic regression
# whose every arithmetic step is reproducible bit-for-bit by portable SQL
# (reference records exact metrics for its trainers,
# tests/sql/basic/001_linreg_basic.sql:35-70; ml_kmeans.c / logistic in
# ml_linear_regression.c train on fixed seeds). The MLlib-backed
# `ml_kmeans`/`logistic_regression` remain the production trainers; these
# exist so the TRAINING loop itself — not just a frozen model — sits
# under the DuckDB oracle gate. All cross-row reductions use bsum/davg
# (order-independent fixed-point / decimal), so a 1000-executor shuffle
# order cannot change a single bit of the result.


def _explode_vec(df: DataFrame, vec_col: str, keep: list[str]) -> DataFrame:
    from neurondb_spark.functions.vector import vec

    return df.select(
        *keep, F.posexplode(vec(vec_col)).alias("_p0", "val")
    ).select(*keep, (F.col("_p0") + 1).cast("int").alias("pos"), "val")


def kmeans_lloyd_exact(
    df: DataFrame, vec_col: str, id_col: str, k: int = 4, iters: int = 2,
    return_centroids: bool = False,
):
    """Deterministic distributed Lloyd: init = the k lowest-id vectors
    (cluster number = id rank), then ``iters`` rounds of
    assign-to-nearest (exact fixed-point L2, ties to the lower cluster)
    + decimal-exact centroid means. Returns (id, cluster) assignments;
    with ``return_centroids`` also the (cluster, pos, cval) centroid
    DataFrame the FINAL assignment was computed against (what an
    oracle-exact IVF layout probes against).

    Scale: the exploded join shuffles n·d·k rows per round — the honest
    distributed form (MLlib's dense path does the same flops); centroids
    stay a DataFrame end to end, nothing collects to the driver.

    Lineage (optimization round 16, guide §5): the exploded vector frame
    feeds every round's distance join AND every round's centroid rebuild
    (2·iters+1 references); the localCheckpoint computes it once instead
    of re-deriving the parquet scan + posexplode per reference. It is
    EAGER: a lazy checkpoint materialized inside
    the caller's action can be computed by a broadcast-exchange thread
    while the DAG scheduler computes the same RDD's partitions, and
    that pair was seen to deadlock on the RDD and the checkpoint lock
    (IVF rebalance, which runs this per split list). The centroid join carries an explicit
    broadcast hint — cent is k·d rows (model-sized at ANY data scale),
    but behind the checkpoint boundary its size estimate is unknown, so
    without the hint the initial plan falls back to SortMergeJoin over
    the exploded frame until AQE re-plans. A per-round localCheckpoint
    of cent was MEASURED SLOWER (~1.5x: each round's k·d block
    materialization is a pipeline barrier) and is deliberately absent —
    plan depth stays O(iters), which every in-repo caller bounds at 2."""
    from neurondb_spark.functions.aggregates import davg
    from pyspark.sql import Window as W

    ex = _explode_vec(df, vec_col, [id_col]).localCheckpoint(eager=True)
    init = (
        df.select(id_col).orderBy(id_col).limit(k)
        .select(
            id_col,
            (F.row_number().over(W.orderBy(id_col)) - 1).alias("cluster"),
        )
    )
    cent = (
        init.join(ex, id_col)
        .select("cluster", "pos", F.col("val").alias("cval"))
    )
    assign = None
    cent_assign = cent  # centroid set the latest assignment used
    for _ in range(iters):
        cent_assign = cent
        d = (
            ex.join(F.broadcast(cent), "pos")
            .groupBy(id_col, "cluster")
            .agg(bsum((F.col("val") - F.col("cval"))
                      * (F.col("val") - F.col("cval"))).alias("dist"))
        )
        w = W.partitionBy(id_col).orderBy(F.col("dist").asc(), F.col("cluster").asc())
        assign = (
            d.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(id_col, "cluster")
        )
        cent = (
            assign.join(ex, id_col)
            .groupBy("cluster", "pos")
            .agg(davg("val").alias("cval"))
        )
    if return_centroids:
        return assign, cent_assign
    return assign


def logreg_gd_exact(
    df: DataFrame, vec_col: str, y_col: str, id_col: str,
    iters: int = 2, lr: float = 1.0, return_score: bool = False,
) -> DataFrame:
    """Fixed-iteration batch gradient descent for logistic regression,
    cross-engine exact: zero init, mean gradient, and the rational
    'fast sigmoid' sigma(z) = 0.5 + 0.5*z/(1+|z|) — pure IEEE arithmetic,
    no libm exp() whose final-ulp differs between engines. Returns
    (id, prediction) with prediction = [x.beta > 0]; with
    ``return_score`` also the rational-sigmoid probability ``score``
    (the quality-classifier output a pipeline thresholds).

    Scale: each iteration is one groupBy(pos) gradient reduction (64
    groups, map-side combined) plus one groupBy(id) dot product — the
    standard data-parallel GD allreduce shape; beta never leaves the
    cluster."""
    ex = _explode_vec(df, vec_col, [id_col, y_col])
    n_rows = df.count()  # fixed denominator for the mean gradient
    beta = None  # zero vector
    for _ in range(iters):
        if beta is None:
            resid = df.select(id_col, (F.col(y_col) - 0.5).alias("resid"))
        else:
            z = (
                ex.join(beta, "pos")
                .groupBy(id_col)
                .agg(bsum(F.col("val") * F.col("b")).alias("z"))
            )
            p = 0.5 + 0.5 * F.col("z") / (1.0 + F.abs(F.col("z")))
            resid = (
                df.select(id_col, y_col).join(z, id_col)
                .select(id_col, (F.col(y_col) - p).alias("resid"))
            )
        grad = (
            ex.join(resid, id_col)
            .groupBy("pos")
            .agg((bsum(F.col("val") * F.col("resid"))
                  / F.lit(float(n_rows))).alias("g"))
        )
        if beta is None:
            beta = grad.select("pos", (F.lit(lr) * F.col("g")).alias("b"))
        else:
            beta = (
                beta.join(grad, "pos")
                .select("pos", (F.col("b") + F.lit(lr) * F.col("g")).alias("b"))
            )
    z_final = (
        ex.join(beta, "pos")
        .groupBy(id_col)
        .agg(bsum(F.col("val") * F.col("b")).alias("z"))
    )
    pred = F.when(F.col("z") > 0, 1).otherwise(0).alias("prediction")
    if return_score:
        score = (0.5 + 0.5 * F.col("z") / (1.0 + F.abs(F.col("z")))).alias("score")
        return z_final.select(id_col, score, pred)
    return z_final.select(id_col, pred)


def als_exact(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    lam: float = 0.1,
) -> tuple[DataFrame, DataFrame]:
    """Fixed-alternation rank-2 ALS, cross-engine exact (the oracle-
    gated twin of the MLlib `collaborative_filter` path, the same
    relationship kmeans_fixed_lloyd has to MLlib KMeans; reference
    src/ml/ml_recommender.c ALS): deterministic item-factor init
    q_i = [1, (md5(item) mod 1000)/1000], then THREE closed-form ridge
    solves (users → items → users). Rank 2 keeps every normal equation a
    2x2 system with an explicit inverse — pure IEEE +,*,/ on bsum
    (2^40 fixed-point, order-independent) aggregates, so a SQL oracle
    replays the whole trainer bit-for-bit.

    Returns (user_factors[user, p1, p2], item_factors[item, q1, q2]).

    Scale: each solve is ONE groupBy over the ratings joined with the
    (broadcastable) opposite-side factors — the standard data-parallel
    ALS shape; factors never visit the driver."""
    from neurondb_spark.functions.aggregates import bsum
    from neurondb_spark.operators.dedup import _md5_long

    lam = float(lam)
    q = ratings.select(item_col).distinct().select(
        item_col,
        F.lit(1.0).alias("q1"),
        ((_md5_long(F.col(item_col).cast("string")) % 1000) / 1000.0)
        .alias("q2"),
    )

    def _solve(side_col, other, oc, f1, f2):
        j = ratings.join(other, oc).select(
            F.col(side_col).alias("_k"),
            F.col(f1).alias("_f1"), F.col(f2).alias("_f2"),
            F.col(rating_col).cast("double").alias("_r"),
        )
        a = j.groupBy("_k").agg(
            bsum(F.col("_f1") * F.col("_f1")).alias("a11"),
            bsum(F.col("_f1") * F.col("_f2")).alias("a12"),
            bsum(F.col("_f2") * F.col("_f2")).alias("a22"),
            bsum(F.col("_f1") * F.col("_r")).alias("b1"),
            bsum(F.col("_f2") * F.col("_r")).alias("b2"),
        )
        det = (
            (F.col("a11") + F.lit(lam)) * (F.col("a22") + F.lit(lam))
            - F.col("a12") * F.col("a12")
        )
        return a.select(
            F.col("_k").alias(side_col),
            (((F.col("a22") + F.lit(lam)) * F.col("b1")
              - F.col("a12") * F.col("b2")) / det).alias("p1"),
            (((F.col("a11") + F.lit(lam)) * F.col("b2")
              - F.col("a12") * F.col("b1")) / det).alias("p2"),
        )

    p = _solve(user_col, q, item_col, "q1", "q2")                 # users(1)
    q = _solve(item_col, p, user_col, "p1", "p2").select(         # items(1)
        item_col, F.col("p1").alias("q1"), F.col("p2").alias("q2")
    )
    p = _solve(user_col, q, item_col, "q1", "q2")                 # users(2)
    return p, q
