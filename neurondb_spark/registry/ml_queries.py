"""ML queries (SURVEY §2.8): closed-form/statistical ops oracle-checked
exactly; iterative MLlib trainings are rows-only (their correctness is
asserted by metric thresholds in tests/test_ml.py, mirroring the
reference's self-checking metric tests, tests/sql/basic/001_linreg_basic.sql:41-70)."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neurondb_spark import oracle as O
from neurondb_spark.ml.stats import (
    centroid_drift,
    knn_classify_vote,
    label_recall_at_k,
    simple_linreg,
    sql_simple_linreg,
    zscore_outliers,
)
from neurondb_spark.registry.common import COMPILE_DIM, EMB_DIM, QVEC_CTE, qvec, t
from neurondb_spark.registry.fixtures import fixture


def _q_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return simple_linreg(li, "l_quantity", "l_extendedprice")


_SQL_LINREG = sql_simple_linreg("lineitem", "l_quantity", "l_extendedprice", O.dsum)


_NB_FEATURES = ["spark", "join", "window", "hash", "vector", "merge",
                "batch", "key"]


def _q_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge y ~ 1 + l_quantity + l_discount via normal equations +
    exact 3×3 cofactor solve (ml/exact_models.py) — graduates the ridge
    family from pytest-only to the hash gate."""
    from neurondb_spark.ml.exact_models import ridge_closed_form

    li = t(spark, sf_dir, "lineitem")
    return ridge_closed_form(li, "l_quantity", "l_discount",
                             "l_extendedprice", lam=10.0)


def _sql_ridge() -> str:
    from neurondb_spark.ml.exact_models import sql_ridge_closed_form

    return sql_ridge_closed_form("lineitem", "l_quantity", "l_discount",
                                 "l_extendedprice", 10.0, O.dsum)


def _q_bernoulli_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bernoulli NB language classifier over token-presence features,
    Laplace-smoothed, trained + resubstitution-predicted in one plan
    (ml/exact_models.py) — the Naive Bayes family under the hash gate
    with the full posterior score checked bit-for-bit."""
    from neurondb_spark.ml.exact_models import bernoulli_nb_predict

    docs = t(spark, sf_dir, "documents")
    return bernoulli_nb_predict(docs, "text", "lang", "doc_id", _NB_FEATURES)


def _sql_bernoulli_nb() -> str:
    from neurondb_spark.ml.exact_models import sql_bernoulli_nb_predict

    return sql_bernoulli_nb_predict("documents", "text", "lang", "doc_id",
                                    _NB_FEATURES)


def _q_linreg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact regression evaluation metrics (mse/rmse/mae/r²) over the
    closed-form linreg's own predictions — the reference's
    evaluate_*_by_model_id metric contract under the hash gate
    (ml/exact_models.py regression_eval_exact)."""
    from neurondb_spark.ml.exact_models import regression_eval_exact

    li = t(spark, sf_dir, "lineitem")
    model = simple_linreg(li, "l_quantity", "l_extendedprice").select(
        "slope", "intercept"
    )
    pred = li.crossJoin(F.broadcast(model)).select(
        F.col("l_extendedprice").alias("y"),
        (F.col("intercept") + F.col("slope") * F.col("l_quantity")).alias("yhat"),
    )
    return regression_eval_exact(pred, "y", "yhat")


def _sql_linreg_eval() -> str:
    from neurondb_spark.ml.exact_models import sql_regression_eval_exact

    d = O.dsum
    pred_cte = f"""s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {d('l_quantity')} AS sx, {d('l_extendedprice')} AS sy,
         {d('l_quantity * l_extendedprice')} AS sxy,
         {d('l_quantity * l_quantity')} AS sxx
  FROM lineitem),
mdl AS (
  SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
         (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
           AS intercept
  FROM s),
pred AS (
  SELECT l_extendedprice AS y,
         (mdl.intercept + mdl.slope * l_quantity) AS yhat
  FROM lineitem, mdl)"""
    return sql_regression_eval_exact(pred_cte, "y", "yhat", O.dsum)


def _q_nb_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-class precision/recall/f1 (+ tp/support counts) of the
    Bernoulli NB classifier vs true labels — the classification half of
    the reference's evaluation metric set, with its 1e-10 f1 zero-guard
    (ml/exact_models.py classification_eval_exact)."""
    from neurondb_spark.ml.exact_models import (
        bernoulli_nb_predict,
        classification_eval_exact,
    )

    docs = t(spark, sf_dir, "documents")
    preds = bernoulli_nb_predict(docs, "text", "lang", "doc_id", _NB_FEATURES)
    joined = preds.join(docs.select("doc_id", "lang"), "doc_id")
    return classification_eval_exact(joined, "lang", "predicted")


def _sql_nb_eval() -> str:
    from neurondb_spark.ml.exact_models import (
        sql_bernoulli_nb_predict,
        sql_classification_eval_exact,
    )

    nb = sql_bernoulli_nb_predict("documents", "text", "lang", "doc_id",
                                  _NB_FEATURES)
    pred_cte = f"""pred_rel AS (
  SELECT d.lang AS lang, nb.predicted AS predicted
  FROM ({nb}) nb JOIN documents d USING (doc_id))"""
    return sql_classification_eval_exact(pred_cte, "lang", "predicted")


_RIDGE_GRID = [0.0, 1.0, 100.0, 10000.0]


def _q_ridge_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan ridge λ grid search (ml/exact_models.ridge_grid_rmse):
    shared sufficient statistics + per-λ cofactor solve + algebraic
    train-RMSE — the neurondb_grid_search surface under the hash gate
    with training and scoring both replayed."""
    from neurondb_spark.ml.exact_models import ridge_grid_rmse

    li = t(spark, sf_dir, "lineitem")
    return ridge_grid_rmse(li, "l_quantity", "l_discount",
                           "l_extendedprice", _RIDGE_GRID)


def _sql_ridge_grid() -> str:
    from neurondb_spark.ml.exact_models import sql_ridge_grid_rmse

    return sql_ridge_grid_rmse("lineitem", "l_quantity", "l_discount",
                               "l_extendedprice", _RIDGE_GRID, O.dsum)


def _q_ridge_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-fold CV of closed-form ridge in one grouped scan
    (ml/exact_models.ridge_cv_rmse): md5 folds, complement-statistics
    training, held-out RMSE from the ss_res expansion — the
    cross_validate surface (ml_automl.c) fully under the hash gate."""
    from neurondb_spark.ml.exact_models import ridge_cv_rmse

    li = t(spark, sf_dir, "lineitem")
    return ridge_cv_rmse(li, "l_quantity", "l_discount", "l_extendedprice",
                         ["l_orderkey", "l_linenumber"], lam=10.0, k_folds=3)


def _sql_ridge_cv() -> str:
    from neurondb_spark.ml.exact_models import sql_ridge_cv_rmse

    return sql_ridge_cv_rmse("lineitem", "l_quantity", "l_discount",
                             "l_extendedprice",
                             ["l_orderkey", "l_linenumber"], 10.0, 3, O.dsum)


def _q_feature_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized-coefficient feature importance for the 2-feature
    OLS model (feature_importance surface, ml_automl.c) — betas AND
    importances under the hash gate (ml/exact_models.py)."""
    from neurondb_spark.ml.exact_models import feature_importance_linreg

    li = t(spark, sf_dir, "lineitem")
    return feature_importance_linreg(li, "l_quantity", "l_discount",
                                     "l_extendedprice")


def _sql_feature_importance() -> str:
    from neurondb_spark.ml.exact_models import sql_feature_importance_linreg

    return sql_feature_importance_linreg("lineitem", "l_quantity",
                                         "l_discount", "l_extendedprice",
                                         O.dsum)


def _q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact depth-1 decision-tree split search (ml_decision_tree.c:1091
    family): full candidate-threshold Gini evaluation over
    l_quantity → [l_returnflag = 'R'], histogram-based like every
    distributed tree trainer (ml/exact_models.decision_stump_gini)."""
    from neurondb_spark.ml.exact_models import decision_stump_gini

    li = t(spark, sf_dir, "lineitem")
    return decision_stump_gini(li, "l_quantity",
                               (F.col("l_returnflag") == "R"))


def _sql_decision_stump() -> str:
    from neurondb_spark.ml.exact_models import sql_decision_stump_gini

    return sql_decision_stump_gini("lineitem", "l_quantity",
                                   "(l_returnflag = 'R')")


def _q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return zscore_outliers(
        orders, "o_totalprice", threshold=2.5, id_cols=["o_orderkey"]
    )


_SQL_ZSCORE = f"""WITH s AS (
  SELECT {O.dsum('o_totalprice')} AS sv,
         {O.dsum('o_totalprice * o_totalprice')} AS svv,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM orders),
m AS (SELECT sv / n AS mean, sqrt(svv / n - (sv / n) * (sv / n)) AS std FROM s)
SELECT o_orderkey, o_totalprice,
       (o_totalprice - m.mean) / m.std AS zscore
FROM orders CROSS JOIN m
WHERE abs((o_totalprice - m.mean) / m.std) > 2.5"""


def _q_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    a = emb.where(F.col("vec_id") % 2 == 0)
    b = emb.where(F.col("vec_id") % 2 == 1)
    return centroid_drift(a, b, "embedding", EMB_DIM)


_SQL_DRIFT = f"""WITH ex AS (
  SELECT vec_id % 2 AS half, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings),
c AS (
  SELECT pos,
    CAST(SUM(CASE WHEN half = 0 THEN CAST(CAST(v AS DOUBLE) AS DECIMAL(38,9)) END) AS DOUBLE)
      / COUNT(CASE WHEN half = 0 THEN 1 END) AS ca,
    CAST(SUM(CASE WHEN half = 1 THEN CAST(CAST(v AS DOUBLE) AS DECIMAL(38,9)) END) AS DOUBLE)
      / COUNT(CASE WHEN half = 1 THEN 1 END) AS cb
  FROM ex GROUP BY pos)
SELECT sqrt({O.bsum('(ca - cb) * (ca - cb)')}) AS centroid_drift
FROM c"""


def _q_distribution_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neurondb_spark.ml.stats import distribution_divergence

    emb = t(spark, sf_dir, "embeddings")
    a = emb.where(F.col("vec_id") % 2 == 0)
    b = emb.where(F.col("vec_id") % 2 == 1)
    return distribution_divergence(a, b, "embedding")


_SQL_DIVERGENCE = f"""WITH ex AS (
  SELECT vec_id % 2 AS half, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings),
m AS (
  SELECT half, pos,
    CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*) AS mean,
    CAST(COUNT(*) AS DOUBLE) AS n
  FROM ex GROUP BY half, pos),
vr AS (
  SELECT ex.half, ex.pos, MAX(m.mean) AS mean,
    {O.bsum('(CAST(ex.v AS DOUBLE) - m.mean) * (CAST(ex.v AS DOUBLE) - m.mean)')} / MAX(m.n) AS var
  FROM ex JOIN m ON ex.half = m.half AND ex.pos = m.pos
  GROUP BY ex.half, ex.pos),
d AS (
  SELECT b.pos, b.mean AS mb, b.var AS vb, c.mean AS mc, c.var AS vc
  FROM (SELECT * FROM vr WHERE half = 0) b
  JOIN (SELECT * FROM vr WHERE half = 1) c ON b.pos = c.pos),
terms AS (
  SELECT CASE WHEN vb < 1e-10 OR vc < 1e-10 THEN 0.0
         ELSE 0.5 * (ln(vc / vb) + 1.0 / (vc / vb)
                     + (mb - mc) * (mb - mc) / vc - 1.0) END AS term
  FROM d)
SELECT {O.bsum('term')} AS kl_divergence FROM terms"""


_JS_LO, _JS_HI, _JS_BINS = 0.0, 600_000.0, 20


def _q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neurondb_spark.ml.stats import js_divergence_histogram

    orders = t(spark, sf_dir, "orders")
    p = orders.where(F.col("o_orderkey") % 2 == 0)
    q = orders.where(F.col("o_orderkey") % 2 == 1)
    return js_divergence_histogram(p, q, "o_totalprice", _JS_LO, _JS_HI, _JS_BINS)


def _sql_js_divergence() -> str:
    w = (_JS_HI - _JS_LO) / _JS_BINS
    b = (
        f"CAST(least(greatest(floor((o_totalprice - {_JS_LO!r}) / {w!r}), 0), "
        f"{_JS_BINS - 1}) AS INTEGER)"
    )
    return f"""WITH hp AS (
  SELECT {b} AS bin, COUNT(*) AS np_ FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1),
hq AS (
  SELECT {b} AS bin, COUNT(*) AS nq_ FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1),
tot AS (
  SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0) AS tp,
         (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 1) AS tq),
j AS (
  SELECT COALESCE(hp.bin, hq.bin) AS bin,
         CAST(COALESCE(np_, 0) AS DOUBLE) / tp AS p,
         CAST(COALESCE(nq_, 0) AS DOUBLE) / tq AS q
  FROM hp FULL OUTER JOIN hq ON hp.bin = hq.bin CROSS JOIN tot),
terms AS (
  SELECT (CASE WHEN p > 0.0 THEN 0.5 * p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END
        + CASE WHEN q > 0.0 THEN 0.5 * q * ln(q / ((p + q) / 2.0)) ELSE 0.0 END) AS term
  FROM j)
SELECT {O.bsum('term')} AS js_divergence FROM terms"""


def _q_knn_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    q = qvec(spark, sf_dir)
    return knn_classify_vote(emb, "embedding", "label", q, k=25, dim=COMPILE_DIM)


def _sql_knn_vote() -> str:
    d = O.sql_l2("e.embedding", "q.qe", EMB_DIM)
    return f"""{QVEC_CTE},
top AS (
  SELECT e.label FROM embeddings e CROSS JOIN q
  ORDER BY {d} ASC, e.vec_id ASC LIMIT 25)
SELECT label, COUNT(*) AS votes FROM top GROUP BY label
ORDER BY votes DESC, label ASC"""


def _q_knn_regress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN regression (ml_knn.c:363): decimal-exact mean of the k=25
    nearest neighbors' labels, deterministic vec_id tiebreak —
    graduates knn_regress from pytest-only to the hash gate."""
    from neurondb_spark.operators.knn import knn_regress

    emb = t(spark, sf_dir, "embeddings")
    q = qvec(spark, sf_dir)
    return knn_regress(emb, "embedding", "label", q, k=25,
                       dim=COMPILE_DIM, tiebreak=["vec_id"])


def _sql_knn_regress() -> str:
    d = O.sql_l2("e.embedding", "q.qe", EMB_DIM)
    return f"""{QVEC_CTE},
top AS (
  SELECT e.label FROM embeddings e CROSS JOIN q
  ORDER BY {d} ASC, e.vec_id ASC LIMIT 25)
SELECT {O.davg('label')} AS prediction FROM top"""


def _q_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    q = qvec(spark, sf_dir)
    return label_recall_at_k(emb, "embedding", "label", q, query_label=0, k=20, dim=COMPILE_DIM)


def _sql_recall_at_k() -> str:
    d = O.sql_l2("e.embedding", "q.qe", EMB_DIM)
    return f"""{QVEC_CTE},
top AS (
  SELECT e.label FROM embeddings e CROSS JOIN q
  ORDER BY {d} ASC, e.vec_id ASC LIMIT 20)
SELECT CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS DOUBLE) / 20.0 AS recall_at_k
FROM top"""


def _q_f1_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f1_at_k (ml_recall_metrics.c:192-254) over the retrieved-ids /
    relevant-ids array contract: retrieved = top-20 vec_ids by L2,
    relevant = all label-0 vec_ids."""
    from neurondb_spark.operators.knn import knn
    from neurondb_spark.operators.rerank import f1_at_k

    emb = t(spark, sf_dir, "embeddings")
    q = qvec(spark, sf_dir)
    top = knn(emb, "embedding", q, k=20, dim=COMPILE_DIM, tiebreak=["vec_id"])
    retrieved = top.agg(F.sort_array(F.collect_list("vec_id")).alias("retrieved"))
    relevant = (
        emb.where(F.col("label") == 0)
        .agg(F.sort_array(F.collect_list("vec_id")).alias("relevant"))
    )
    return retrieved.join(relevant).select(
        f1_at_k(F.col("retrieved"), F.col("relevant"), 20).alias("f1_at_k")
    )


def _sql_f1_at_k() -> str:
    d = O.sql_l2("e.embedding", "q.qe", EMB_DIM)
    return f"""{QVEC_CTE},
top AS (
  SELECT e.vec_id, e.label FROM embeddings e CROSS JOIN q
  ORDER BY {d} ASC, e.vec_id ASC LIMIT 20),
f AS (SELECT CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS found FROM top),
nr AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_rel FROM embeddings WHERE label = 0),
pr AS (SELECT (found / 20.0) AS p, (found / n_rel) AS r FROM f CROSS JOIN nr)
SELECT CASE WHEN p + r < 1e-10 THEN 0.0
       ELSE 2.0 * (p * r) / (p + r) END AS f1_at_k
FROM pr"""


# ------------------------------------------------- MLlib (rows-only checks)

def _q_logreg_train_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary logistic regression: label<5 on embeddings; returns per-class
    prediction counts (deterministic given seed/environment; asserted by
    accuracy threshold in tests)."""
    import tempfile

    from neurondb_spark.catalog import Catalog
    from neurondb_spark.ml.api import MLEngine

    emb = t(spark, sf_dir, "embeddings").withColumn(
        "y", (F.col("label") < 5).cast("double")
    )
    eng = MLEngine(Catalog(tempfile.mkdtemp(prefix="neurondb_ml_")))
    mid = eng.train(emb, "logistic_regression", ["embedding"], target="y")
    pred = eng.predict(emb, mid)
    return (
        pred.groupBy(F.col("prediction").cast("int").alias("prediction"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("prediction")
    )


def _q_lof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOF outliers (detect_anomalies_lof, ml_anomaly_detection.c:401-660)
    over embeddings, k=10 — fully deterministic, hash-checked end to end
    (neighbor selection by GEMM ranking, summed distances recomputed with
    the fold kernel; see ml/outliers.py)."""
    from neurondb_spark.ml.outliers import lof

    emb = t(spark, sf_dir, "embeddings")
    out = lof(emb, "embedding", "vec_id", k=10, threshold=1.05, dim=COMPILE_DIM)
    return (
        out.orderBy(F.col("lof_score").desc(), F.col("vec_id").asc())
        .limit(15)
        .select("vec_id", "lof_score", "is_anomaly")
    )


def _sql_lof() -> str:
    d = O.sql_l2("a.embedding", "b.embedding", EMB_DIM)
    return f"""WITH pd AS MATERIALIZED (
  SELECT a.vec_id AS src, b.vec_id AS nbr, {d} AS d
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
nn AS MATERIALIZED (
  SELECT src, nbr, d FROM (
    SELECT src, nbr, d,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY d ASC, nbr ASC) AS rn
    FROM pd) t WHERE rn <= 10),
kd AS (SELECT src, MAX(d) AS kd FROM nn GROUP BY src),
reach AS (
  SELECT nn.src, nn.nbr, greatest(nn.d, kd.kd) AS r
  FROM nn JOIN kd ON nn.nbr = kd.src),
lrd AS (SELECT src, 10.0 / {O.bsum('r')} AS lrd FROM reach GROUP BY src),
slrd AS (
  SELECT nn.src, {O.bsum('lrd.lrd')} AS s
  FROM nn JOIN lrd ON nn.nbr = lrd.src GROUP BY nn.src)
SELECT s.src AS vec_id,
       (CASE WHEN l.lrd > 0.0 THEN s.s / (10.0 * l.lrd) ELSE 0.0 END) AS lof_score,
       ((CASE WHEN l.lrd > 0.0 THEN s.s / (10.0 * l.lrd) ELSE 0.0 END) > 1.05) AS is_anomaly
FROM slrd s JOIN lrd l ON s.src = l.src
ORDER BY lof_score DESC, vec_id ASC LIMIT 15"""


_OCSVM_NU, _OCSVM_GAMMA, _OCSVM_MAXSV = 0.1, 1.0, 64


def _q_ocsvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified one-class SVM (detect_anomalies_ocsvm,
    ml_anomaly_detection.c:737-900): strided SVs, mean RBF score,
    nu-quantile cutoff — deterministic, hash-checked; 15 most anomalous."""
    from neurondb_spark.ml.outliers import ocsvm

    emb = t(spark, sf_dir, "embeddings")
    out = ocsvm(
        emb.select("vec_id", "embedding"), "embedding", "vec_id",
        nu=_OCSVM_NU, gamma=_OCSVM_GAMMA, max_sv=_OCSVM_MAXSV,
    )
    # JVM Math.exp and libm exp can disagree in the final ulp, so the
    # hashed score is rounded to 9 digits on both sides (the established
    # pattern for transcendental outputs, cf. knn_minkowski3)
    return (
        out.orderBy(F.col("ocsvm_score").asc(), F.col("vec_id").asc())
        .limit(15)
        .select("vec_id", F.round("ocsvm_score", 9).alias("ocsvm_score"),
                "is_anomaly")
    )


def _sql_ocsvm() -> str:
    sqd = O.sql_squared_l2("e.embedding", "s.embedding", EMB_DIM)
    nu, gamma, maxsv = _OCSVM_NU, _OCSVM_GAMMA, _OCSVM_MAXSV
    return f"""WITH cnt AS (SELECT COUNT(*) AS n FROM embeddings),
nsv AS (SELECT greatest(least(CAST(floor({nu!r} * n) AS BIGINT), {maxsv}), 1) AS n_sv, n FROM cnt),
ranked AS (SELECT vec_id, embedding, ROW_NUMBER() OVER (ORDER BY vec_id ASC) AS rn FROM embeddings),
svr AS (SELECT DISTINCT (i * nsv.n) // nsv.n_sv + 1 AS rn
        FROM generate_series(0, {maxsv - 1}) AS g(i) CROSS JOIN nsv
        WHERE i < nsv.n_sv),
svs AS (SELECT r.rn, r.embedding FROM ranked r JOIN svr ON r.rn = svr.rn),
scores AS MATERIALIZED (
  SELECT e.vec_id,
    list_reduce(
      list_prepend(CAST(0.0 AS DOUBLE), list(exp(-{gamma!r} * ({sqd})) ORDER BY s.rn)),
      (a, b) -> a + b) / (SELECT CAST(n_sv AS DOUBLE) FROM nsv) AS ocsvm_score
  FROM embeddings e CROSS JOIN svs s GROUP BY e.vec_id),
srt AS (SELECT ocsvm_score, ROW_NUMBER() OVER (ORDER BY ocsvm_score ASC) AS rnk FROM scores),
thr AS (SELECT ocsvm_score AS t FROM srt
        WHERE rnk = (SELECT least(CAST(floor({nu!r} * n) AS BIGINT), n - 1) + 1 FROM cnt))
SELECT sc.vec_id, round(sc.ocsvm_score, 9) AS ocsvm_score,
       (sc.ocsvm_score < thr.t) AS is_anomaly
FROM scores sc CROSS JOIN thr
ORDER BY sc.ocsvm_score ASC, sc.vec_id ASC LIMIT 15"""


def _q_isolation_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isolation-forest outliers (ml_anomaly_detection.c:60-365) over the
    embeddings, deterministic seed; per-label anomaly counts. Scores
    depend on the seeded tree builds → rows-only check (planted-anomaly
    correctness asserted in tests/test_outliers.py)."""
    from neurondb_spark.ml.outliers import isolation_forest

    emb = t(spark, sf_dir, "embeddings")
    out = isolation_forest(
        emb, "embedding", n_trees=50, sample_size=128, contamination=0.1,
        seed=42, keep_cols=["vec_id", "label"], id_col="vec_id",
    )
    return (
        out.where(F.col("is_anomaly"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_anomalies"))
        .orderBy("label")
    )


def _q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans k=5 on embeddings → cluster size distribution (rows-only)."""
    import tempfile

    from neurondb_spark.catalog import Catalog
    from neurondb_spark.ml.api import MLEngine

    emb = t(spark, sf_dir, "embeddings")
    eng = MLEngine(Catalog(tempfile.mkdtemp(prefix="neurondb_ml_")))
    mid = eng.train(emb, "kmeans", ["embedding"], params={"k": 5})
    pred = eng.predict(emb, mid)
    return (
        pred.groupBy(F.col("prediction").alias("cluster"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cluster")
    )


def _q_knn_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN model persistence (train_knn_model_id, ml_knn.c:759): train a
    cataloged kNN classifier on half the embeddings, predict the other
    half, return per-class counts. Fully deterministic: exact kNN with
    distance ties broken by label ascending (the packed-id policy in
    MLEngine._predict_knn), so a brute-force SQL oracle replicates it."""
    import tempfile

    from neurondb_spark.catalog import Catalog
    from neurondb_spark.ml.api import MLEngine

    emb = t(spark, sf_dir, "embeddings").withColumn(
        "y", (F.col("label") < 5).cast("double")
    )
    eng = MLEngine(Catalog(tempfile.mkdtemp(prefix="neurondb_knn_")))
    mid = eng.train(emb.where(F.col("vec_id") % 2 == 0), "knn", ["embedding"],
                    target="y", params={"k": 5})
    pred = eng.predict(emb.where(F.col("vec_id") % 2 == 1), mid)
    return (
        pred.groupBy(F.col("prediction").cast("int").alias("prediction"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("prediction")
    )


def _sql_knn_model() -> str:
    """Brute-force oracle for the kNN model contract: 5-NN by L2 among
    even vec_ids for each odd vec_id, distance ties → label ascending,
    vote ties → label ascending (mirrors _predict_knn's window)."""
    d = O.sql_l2("q.embedding", "tr.embedding", EMB_DIM)
    return f"""WITH base AS (
  SELECT vec_id, embedding,
         CASE WHEN label < 5 THEN 1.0 ELSE 0.0 END AS y
  FROM embeddings),
nn AS (
  SELECT q.vec_id AS qid, tr.y AS ty,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id ORDER BY {d} ASC, tr.y ASC) AS rn
  FROM base q JOIN base tr
    ON q.vec_id % 2 = 1 AND tr.vec_id % 2 = 0),
votes AS (
  SELECT qid, ty, COUNT(*) AS v FROM nn WHERE rn <= 5 GROUP BY qid, ty),
pred AS (
  SELECT qid, ty,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY v DESC, ty ASC) AS pr
  FROM votes)
SELECT CAST(ty AS INT) AS prediction, COUNT(*) AS n
FROM pred WHERE pr = 1 GROUP BY prediction ORDER BY prediction"""


def _q_tsne(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-SNE 2-D embedding (reduce_tsne, ml_dimensionality_reduction.c:60)
    on a capped, seeded sample — per-label centroid summary (rows-only:
    the layout is seed-stable but engine-specific)."""
    from neurondb_spark.ml.dimreduce import tsne

    emb = t(spark, sf_dir, "embeddings")
    y = tsne(emb, "embedding", "vec_id", perplexity=20.0, iterations=100,
             sample_cap=300, seed=42)
    j = y.join(emb.select("vec_id", "label"), "vec_id")
    return (
        j.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.element_at("embedding", 1)).alias("cx"),
            F.avg(F.element_at("embedding", 2)).alias("cy"),
        )
        .orderBy("label")
    )


def _q_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ rotation (train/apply_opq_rotation, ml_opq.c:94-480):
    train the PCA rotation, apply it, return per-dimension variance of the
    first 8 rotated dims — must come out descending (rows-only)."""
    from neurondb_spark.ml.opq import apply_opq_rotation, train_opq_rotation

    emb = t(spark, sf_dir, "embeddings")
    R = train_opq_rotation(emb, "embedding", num_subspaces=8)
    rot = apply_opq_rotation(emb.select("vec_id", "embedding"), "embedding", R)
    ex = rot.select(F.posexplode("rotated").alias("pos", "v")).where(F.col("pos") < 8)
    return (
        ex.groupBy("pos")
        .agg(F.variance("v").alias("var"))
        .orderBy("pos")
        .select((F.col("pos") + 1).alias("dim"), "var")
    )


def _q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the embeddings table, blocked by label
    (ml_dbscan.c:184). No eps-pair crosses a label, so the reference's
    single-node pass runs once per label block in one grouped pandas
    pass: GEMM candidates, each rechecked with the distance fold's exact
    op order (so a pair at eps is decided as the oracle's l2 decides it),
    degree with the self-pair, union-find over core pairs, border = min
    label of its core neighbours. Output (vec_id, cluster) with cluster =
    min core id of the cluster, −1 = noise — all integers, so the oracle
    hash is exact by construction."""
    from neurondb_spark.ml.dbscan import dbscan

    emb = t(spark, sf_dir, "embeddings")
    out = dbscan(
        emb.select("vec_id", "label", "embedding"),
        "embedding", "vec_id", eps=1.25, min_samples=4,
        on=["label"], dim=COMPILE_DIM,
    )
    return out.select(F.col("id").alias("vec_id"), "cluster")


def _sql_dbscan() -> str:
    """Full DBSCAN in SQL: eps-pairs (self-pair included, so degree counts
    self like the Spark path), cores by degree, min-reachable-core-id via
    recursive CTE (= connected_components' min-label fixpoint), border =
    min core neighbor's component, rest −1."""
    d = O.sql_l2("a.embedding", "b.embedding", EMB_DIM)
    return f"""WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM embeddings a JOIN embeddings b ON a.label = b.label
  WHERE {d} <= 1.25),
deg AS (SELECT a, COUNT(*) AS c FROM pairs GROUP BY a),
cores AS (SELECT a AS id FROM deg WHERE c >= 4),
core_edges AS (
  SELECT p.a AS src, p.b AS dst FROM pairs p
  JOIN cores ca ON p.a = ca.id JOIN cores cb ON p.b = cb.id
  WHERE p.a <> p.b),
reach(node, r) AS (
  SELECT id, id FROM cores
  UNION
  SELECT e.dst, reach.r FROM reach JOIN core_edges e ON e.src = reach.node),
comp AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node),
border AS (
  SELECT p.a AS id, MIN(c.comp) AS cluster
  FROM pairs p JOIN cores cb ON p.b = cb.id JOIN comp c ON c.node = p.b
  WHERE p.a NOT IN (SELECT id FROM cores)
  GROUP BY p.a),
labeled AS (
  SELECT node AS id, comp AS cluster FROM comp
  UNION ALL SELECT id, cluster FROM border)
SELECT e.vec_id, COALESCE(l.cluster, -1) AS cluster
FROM embeddings e LEFT JOIN labeled l ON e.vec_id = l.id"""


_EX_CTE = """ex AS MATERIALIZED (
  SELECT vec_id, CAST((label < 5) AS DOUBLE) AS y,
         CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings)"""


def _q_tsne_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-exact t-SNE descent (ml/tsne_exact.py): md5 subsample,
    rational symmetric affinities, layout init from the first two input
    dims, 2 exact KL gradient steps with the REAL Student-t q — the
    hash-gateable twin of the rows-only ``tsne_label_centroids``
    (reduce_tsne, NeuronDB/src/ml/ml_dimensionality_reduction.c:60);
    only the perplexity-calibrated Gaussian affinities are replaced
    (transcendental), the defining gradient loop is bit-exact."""
    from neurondb_spark.ml.tsne_exact import tsne_fixed_grad

    emb = t(spark, sf_dir, "embeddings")
    return tsne_fixed_grad(emb, "embedding", "vec_id")


def _sql_tsne_fixed() -> str:
    from neurondb_spark.ml.tsne_exact import sql_tsne_fixed_grad

    return sql_tsne_fixed_grad()


def _q_isolation_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-exact isolation forest (ml/isolation.py): md5-derived
    split dims/fractions replace the RNG, everything else is the real
    algorithm (per-node range split, early isolation, path-length
    score) — the hash-gateable twin of the rows-only
    ``isolation_forest_outliers``, closing the LAST rows-only family
    without an exact twin (reference trainer:
    NeuronDB/src/ml/ml_anomaly.c train/predict_isolation_forest)."""
    from neurondb_spark.ml.isolation import isolation_forest_exact

    emb = t(spark, sf_dir, "embeddings")
    return isolation_forest_exact(
        emb, "embedding", "vec_id", trees=4, depth=10
    )


def _sql_isolation_exact() -> str:
    from neurondb_spark.ml.isolation import sql_isolation_forest_exact

    return sql_isolation_forest_exact(depth=10)


def _q_gmm_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-exact mixture EM (ml/mixture.mixture_em_exact): label-mean
    init, 2 EM rounds of the rational-kernel E/M alternation — the
    hash-gateable twin of the rows-only MLlib ``gmm_cluster_sizes``,
    putting the GMM TRAINING LOOP itself under the gate (cluster_gmm,
    NeuronDB/src/ml/ml_gmm.c:130; E-step :262-273, M-step :293-328;
    the transcendental Gaussian kernel is replaced by a rational
    inverse-polynomial one so both engines produce identical bits —
    see the ml/mixture module docstring)."""
    from neurondb_spark.ml.mixture import mixture_em_exact

    emb = t(spark, sf_dir, "embeddings")
    return mixture_em_exact(emb, "embedding", "vec_id", k=3, iters=2)


def _sql_gmm_fixed() -> str:
    from neurondb_spark.ml.mixture import sql_mixture_em_exact

    return sql_mixture_em_exact()


def _q_kmeans_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-exact KMeans (ml/stats.kmeans_lloyd_exact): fixed init =
    the 4 lowest vec_ids, 2 Lloyd rounds, fixed-point distances and
    decimal-exact means — the TRAINING loop itself is under the gate,
    not just a frozen model (cf. ml_kmeans.c seeded trainer)."""
    from neurondb_spark.ml.stats import kmeans_lloyd_exact

    emb = t(spark, sf_dir, "embeddings")
    return kmeans_lloyd_exact(emb, "embedding", "vec_id", k=4, iters=2)


def _sql_kmeans_fixed(k: int = 4) -> str:
    dist = O.bsum("(ex.val - c.cval) * (ex.val - c.cval)")
    steps = []
    prev_cent = "c0"
    for it in (1, 2):
        steps.append(f"""d{it} AS (
  SELECT ex.vec_id, c.cluster, {dist} AS dist
  FROM ex JOIN {prev_cent} c ON ex.pos = c.pos
  GROUP BY ex.vec_id, c.cluster),
a{it} AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, cluster ASC) AS rn
    FROM d{it}) WHERE rn = 1)""")
        if it < 2:
            steps.append(f"""c{it} AS (
  SELECT a.cluster, e.pos, {O.davg('e.val')} AS cval
  FROM a{it} a JOIN ex e ON e.vec_id = a.vec_id
  GROUP BY a.cluster, e.pos)""")
        prev_cent = f"c{it}"
    return f"""WITH {_EX_CTE},
init AS (
  SELECT vec_id,
         CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})),
c0 AS (
  SELECT i.cluster, e.pos, e.val AS cval
  FROM init i JOIN ex e ON e.vec_id = i.vec_id),
{', '.join(steps)}
SELECT vec_id, cluster FROM a2"""


def _q_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified silhouette over the oracle-exact Lloyd
    clustering (ml/exact_models.silhouette_simplified) — the
    clustering-quality metric family (ClusteringEvaluator analog) under
    the hash gate next to davies_bouldin."""
    from neurondb_spark.ml.exact_models import silhouette_simplified

    emb = t(spark, sf_dir, "embeddings")
    return silhouette_simplified(emb, "embedding", "vec_id", k=4, iters=2)


def _sql_kmeans_silhouette() -> str:
    from neurondb_spark.ml.exact_models import sql_silhouette_simplified

    return sql_silhouette_simplified(_sql_kmeans_fixed(), O.davg, O.bsum)


def _q_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-exact logistic regression (ml/stats.logreg_gd_exact):
    zero-init 2-iteration batch GD with the rational fast sigmoid —
    per-row predictions hash-checked against the identically-unrolled
    DuckDB trainer (reference records exact trainer metrics,
    tests/sql/basic/001_linreg_basic.sql:35-70)."""
    from neurondb_spark.ml.stats import logreg_gd_exact

    emb = t(spark, sf_dir, "embeddings").withColumn(
        "y", (F.col("label") < 5).cast("double")
    )
    return logreg_gd_exact(emb, "embedding", "y", "vec_id", iters=2, lr=1.0)


def _sql_logreg_gd() -> str:
    n = "(SELECT CAST(COUNT(*) AS DOUBLE) FROM embeddings)"
    g1 = O.bsum("val * (y - 0.5)")
    gz = O.bsum("ex.val * b1.b")
    g2 = O.bsum("ex.val * r2.resid")
    z2 = O.bsum("ex.val * b2.b")
    return f"""WITH {_EX_CTE},
g1 AS (SELECT pos, {g1} / {n} AS g FROM ex GROUP BY pos),
b1 AS (SELECT pos, 1.0 * g AS b FROM g1),
z1 AS (SELECT ex.vec_id, {gz} AS z
       FROM ex JOIN b1 ON ex.pos = b1.pos GROUP BY ex.vec_id),
r2 AS (SELECT em.vec_id,
              CAST((em.label < 5) AS DOUBLE)
                - (0.5 + 0.5 * z1.z / (1.0 + abs(z1.z))) AS resid
       FROM embeddings em JOIN z1 ON em.vec_id = z1.vec_id),
g2 AS (SELECT ex.pos, {g2} / {n} AS g
       FROM ex JOIN r2 ON ex.vec_id = r2.vec_id GROUP BY ex.pos),
b2 AS (SELECT b1.pos, b1.b + 1.0 * g2.g AS b
       FROM b1 JOIN g2 ON b1.pos = g2.pos),
z2 AS (SELECT ex.vec_id, {z2} AS z
       FROM ex JOIN b2 ON ex.pos = b2.pos GROUP BY ex.vec_id)
SELECT vec_id, CASE WHEN z > 0 THEN 1 ELSE 0 END AS prediction FROM z2"""


def _q_automl_deploy_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AutoML + deployment lifecycle end-to-end (ml_automl.c:119 auto
    train/CV; deployment versioning + rollback + ab_tests semantics,
    ml/deployment.py): CV two linear candidates, register the winner as
    v1, a ridge refit as v2, activate v2 then roll back to v1, and score
    a deterministic md5-bucketed A/B split with the active version.
    Output = per-arm row counts. The arm assignment and row conservation
    are SQL-expressible, so this has a REAL oracle — the model lifecycle
    in between must not drop, duplicate, or crash to match it."""
    import tempfile

    from neurondb_spark.catalog import Catalog
    from neurondb_spark.ml.api import MLEngine
    from neurondb_spark.ml.automl import auto_train
    from neurondb_spark.ml.deployment import Deployments

    emb = t(spark, sf_dir, "embeddings").withColumn(
        "y", F.col("label").cast("double")
    )
    cat = Catalog(tempfile.mkdtemp(prefix="neurondb_automl_"))
    res = auto_train(
        emb, ["embedding"], "y", task="regression",
        candidates=["linear_regression", "ridge"], folds=2, catalog=cat,
    )
    d = Deployments(cat)
    d.publish_version("reg", res["model_id"])
    eng = MLEngine(cat)
    v2_mid = eng.train(emb, "ridge", ["embedding"], target="y",
                       params={"regParam": 10.0})
    v2 = d.publish_version("reg", v2_mid)
    d.activate("reg", v2)
    d.rollback("reg")  # active back to v1 = the CV winner
    pred = d.ab_predict(emb, "reg", "reg", "vec_id", traffic_b=0.5)
    return (
        pred.groupBy("ab_arm")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("ab_arm")
    )


_SQL_AUTOML_AB = """SELECT
  CASE WHEN CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || 'ab'), 1, 8)) AS BIGINT)
            % 1000 < 500
       THEN 'B' ELSE 'A' END AS ab_arm,
  COUNT(*) AS n
FROM embeddings GROUP BY 1 ORDER BY 1"""


_GBT_GRID = {
    "l_quantity": [10.0, 20.0, 30.0, 40.0],
    "l_discount": [0.02, 0.04, 0.06, 0.08],
    "l_tax": [0.02, 0.04, 0.06],
}
_GBT_ROUNDS, _GBT_LR = 3, 0.5


def _gbt_load(spark: SparkSession, sf_dir: str, path: str):
    """``(model, pred_col)``, as ``gbt_fixed_stumps`` returns them."""
    from neurondb_spark.ml.boosting import gbt_pred_from_model

    with open(os.path.join(path, "model.json")) as f:
        model = json.load(f)
    return model, gbt_pred_from_model(model)


@fixture("gbt_model", load=_gbt_load)
def _gbt_model_for(spark: SparkSession, sf_dir: str, path: str) -> None:
    from neurondb_spark.ml.boosting import gbt_fixed_stumps

    model, _pred = gbt_fixed_stumps(
        t(spark, sf_dir, "lineitem"), _GBT_GRID, "l_extendedprice",
        rounds=_GBT_ROUNDS, lr=_GBT_LR,
    )
    os.makedirs(path)
    with open(os.path.join(path, "model.json"), "w") as f:
        json.dump(model, f)


def _q_gbt_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-round gradient boosting (ml/boosting.py — the
    ml_xgboost.c:349-449 / ml_lightgbm.c twin, the kmeans_fixed_lloyd
    playbook applied to boosting): 3 squared-error rounds of depth-1
    stumps on l_extendedprice ~ (l_quantity, l_discount, l_tax), split
    chosen from a fixed threshold grid by exact variance reduction
    (decimal residual sums), leaf values = lr·(exact residual means).
    Trains on the FULL table under the hash gate — the oracle replays
    the split search itself, so a drifted candidate score, winner, or
    leaf breaks the hash — and emits predictions for a 1/97 key slice."""
    li = t(spark, sf_dir, "lineitem")
    _model, pred = _gbt_model_for(spark, sf_dir)
    return li.where(F.col("l_orderkey") % 97 == 1).select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        pred.alias("gbt_pred"),
    )


def _sql_gbt_stumps() -> str:
    from neurondb_spark.ml.boosting import sql_gbt_fixed_stumps

    base = """d AS (
  SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
         CAST(l_linenumber AS INT) AS l_linenumber,
         l_quantity, l_discount, l_tax,
         CAST(l_extendedprice AS DOUBLE) AS y
  FROM lineitem)"""
    chain = sql_gbt_fixed_stumps(base, _GBT_GRID, rounds=_GBT_ROUNDS,
                                 lr=_GBT_LR)
    return f"""{chain}
SELECT l_orderkey, l_linenumber, pred AS gbt_pred
FROM r{_GBT_ROUNDS} WHERE l_orderkey % 97 = 1"""


_RF_TREES = 5


def _q_rf_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bagged random forest (ml/boosting.py rf_fixed_stumps — the
    ml_random_forest.c family's value-replayable twin): 5 regression
    stumps, each fit on a deterministic md5-bootstrap half of lineitem,
    split by exact variance reduction over the shared fixed grid,
    prediction = fixed-order mean of the 5 leaf values. The whole
    forest trains in ONE aggregate pass; the oracle replays bootstrap
    membership, every per-tree candidate score, the argmax and the
    leaf mean — emits predictions for a 1/83 key slice."""
    from neurondb_spark.ml.boosting import rf_fixed_stumps

    li = t(spark, sf_dir, "lineitem")
    rk = F.concat(
        F.col("l_orderkey").cast("string"), F.lit("_"),
        F.col("l_linenumber").cast("string"),
    )
    _model, pred = rf_fixed_stumps(
        li, _GBT_GRID, "l_extendedprice", rk, trees=_RF_TREES, sample_mod=2
    )
    return li.where(F.col("l_orderkey") % 83 == 1).select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        pred.alias("rf_pred"),
    )


def _sql_rf_stumps() -> str:
    from neurondb_spark.ml.boosting import sql_rf_fixed_stumps

    base = """d AS (
  SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
         CAST(l_linenumber AS INT) AS l_linenumber,
         l_quantity, l_discount, l_tax,
         CAST(l_extendedprice AS DOUBLE) AS y,
         CAST(l_orderkey AS VARCHAR) || '_'
           || CAST(l_linenumber AS VARCHAR) AS rk
  FROM lineitem)"""
    from neurondb_spark.ml.boosting import sql_rf_pred_expr

    chain = sql_rf_fixed_stumps(base, _GBT_GRID, trees=_RF_TREES,
                                sample_mod=2)
    joins = " ".join(
        f"CROSS JOIN wt{i} w{i}" for i in range(_RF_TREES)
    )
    return f"""{chain}
SELECT x.l_orderkey, x.l_linenumber,
       {sql_rf_pred_expr(_GBT_GRID, _RF_TREES)} AS rf_pred
FROM d x {joins}
WHERE x.l_orderkey % 83 = 1"""


def _q_gbt_shap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact SHAP attributions for the boosted-stump model — the XAI
    surface (ml_explainable_ai.c) made value-exact: for depth-1 trees
    the Shapley value is closed-form, φ_f(x) = Σ_{trees on f}
    (leaf_t(x) − E_train[leaf_t]), with the background expectation
    recorded per stump at fit time. Additivity base + ΣE + Σφ == pred
    holds double-for-double; the oracle recomputes every φ from its own
    replayed split search, so a drifted expectation or attribution
    breaks the hash. Emits φ per feature + the prediction for a 1/89
    key slice."""
    from neurondb_spark.ml.boosting import gbt_shap_cols

    li = t(spark, sf_dir, "lineitem")
    model, pred = _gbt_model_for(spark, sf_dir)
    phis = gbt_shap_cols(model, sorted(_GBT_GRID))
    return li.where(F.col("l_orderkey") % 89 == 1).select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        *[phis[f].alias(f"phi_{f}") for f in sorted(_GBT_GRID)],
        pred.alias("gbt_pred"),
    )


def _sql_gbt_shap() -> str:
    from neurondb_spark.ml.boosting import (
        sql_gbt_fixed_stumps,
        sql_gbt_shap,
    )

    base = """d AS (
  SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
         CAST(l_linenumber AS INT) AS l_linenumber,
         l_quantity, l_discount, l_tax,
         CAST(l_extendedprice AS DOUBLE) AS y
  FROM lineitem)"""
    chain = sql_gbt_fixed_stumps(base, _GBT_GRID, rounds=_GBT_ROUNDS,
                                 lr=_GBT_LR)
    phis = sql_gbt_shap(_GBT_GRID, _GBT_ROUNDS, _GBT_LR)
    phi_sel = ",\n       ".join(
        f"{phis[f]} AS phi_{f}" for f in sorted(_GBT_GRID)
    )
    joins = " ".join(f"CROSS JOIN w{i}" for i in range(1, _GBT_ROUNDS + 1))
    return f"""{chain}
SELECT x.l_orderkey, x.l_linenumber,
       {phi_sel},
       x.pred AS gbt_pred
FROM r{_GBT_ROUNDS} x {joins}
WHERE x.l_orderkey % 89 = 1"""


QUERIES = {
    "linreg_closed_form": (_q_linreg, _SQL_LINREG),
    "gbt_fixed_stumps": (_q_gbt_stumps, _sql_gbt_stumps()),
    "gbt_shap_attributions": (_q_gbt_shap, _sql_gbt_shap()),
    "rf_fixed_stumps": (_q_rf_stumps, _sql_rf_stumps()),
    "ridge_closed_form": (_q_ridge, _sql_ridge()),
    "bernoulli_nb_lang": (_q_bernoulli_nb, _sql_bernoulli_nb()),
    "linreg_eval_metrics": (_q_linreg_eval, _sql_linreg_eval()),
    "ridge_grid_search": (_q_ridge_grid, _sql_ridge_grid()),
    "ridge_cv_rmse": (_q_ridge_cv, _sql_ridge_cv()),
    "feature_importance_linreg": (_q_feature_importance,
                                  _sql_feature_importance()),
    "decision_stump_gini": (_q_decision_stump, _sql_decision_stump()),
    "nb_eval_metrics": (_q_nb_eval, _sql_nb_eval()),
    "dbscan_clusters": (_q_dbscan, _sql_dbscan()),
    "zscore_outliers": (_q_zscore, _SQL_ZSCORE),
    "centroid_drift": (_q_drift, _SQL_DRIFT),
    "distribution_divergence": (_q_distribution_divergence, _SQL_DIVERGENCE),
    "js_divergence_hist": (_q_js_divergence, _sql_js_divergence()),
    "knn_classify_vote": (_q_knn_vote, _sql_knn_vote()),
    "knn_regress_label": (_q_knn_regress, _sql_knn_regress()),
    "label_recall_at_k": (_q_recall_at_k, _sql_recall_at_k()),
    "label_f1_at_k": (_q_f1_at_k, _sql_f1_at_k()),
    "lof_outliers": (_q_lof, _sql_lof()),
    "ocsvm_outliers": (_q_ocsvm, _sql_ocsvm()),
    "ml_logreg_predictions": (_q_logreg_train_predict, None),
    "ml_kmeans_clusters": (_q_kmeans_clusters, None),
    "isolation_forest_outliers": (_q_isolation_forest, None),
    "ml_knn_predictions": (_q_knn_model, _sql_knn_model()),
    "tsne_label_centroids": (_q_tsne, None),
    "opq_rotated_variance": (_q_opq, None),
    "automl_deploy_ab": (_q_automl_deploy_ab, _SQL_AUTOML_AB),
    "gmm_fixed_em": (_q_gmm_fixed, _sql_gmm_fixed()),
    "isolation_depth_exact": (_q_isolation_exact, _sql_isolation_exact()),
    "tsne_fixed_grad": (_q_tsne_fixed, _sql_tsne_fixed()),
    "kmeans_fixed_lloyd": (_q_kmeans_fixed, _sql_kmeans_fixed()),
    "kmeans_silhouette": (_q_kmeans_silhouette, _sql_kmeans_silhouette()),
    "logreg_gd_predictions": (_q_logreg_gd, _sql_logreg_gd()),
}
