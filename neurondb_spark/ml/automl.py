"""AutoML (SURVEY §2.8): auto_train / cross_validate / hyperparameter
search / leaderboard.

Reference: ml_automl.c:119-2020 (auto_train tries candidate algorithms,
cross-validates, keeps a leaderboard); ml_hyperparameter_tuning.c:39-41
(grid/random search). Spark mapping: CrossValidator / TrainValidationSplit
+ ParamGridBuilder — distributed folds, no sample cap.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame

from neurondb_spark.catalog import Catalog
from neurondb_spark.ml.api import MLEngine, _algorithms, _featurize


def cross_validate(
    df: DataFrame, algorithm: str, features: list[str], target: str,
    param_grid: dict[str, list] | None = None, folds: int = 3, seed: int = 42,
) -> dict:
    """K-fold CV for one algorithm; returns avg metric + best params."""
    from pyspark.ml.evaluation import (
        MulticlassClassificationEvaluator,
        RegressionEvaluator,
    )
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    factory, task = _algorithms()[algorithm]
    est = factory({})
    est.setFeaturesCol("features").setLabelCol(target)
    data = _featurize(df, features)
    gb = ParamGridBuilder()
    for pname, values in (param_grid or {}).items():
        gb = gb.addGrid(est.getParam(pname), values)
    grid = gb.build()
    if task == "regression":
        ev = RegressionEvaluator(labelCol=target, metricName="rmse")
        bigger_better = False
    else:
        ev = MulticlassClassificationEvaluator(labelCol=target, metricName="accuracy")
        bigger_better = True
    cv = CrossValidator(
        estimator=est, estimatorParamMaps=grid, evaluator=ev,
        numFolds=folds, seed=seed, parallelism=4,
    )
    model = cv.fit(data)
    metrics = list(model.avgMetrics)
    best_i = max(range(len(metrics)), key=lambda i: metrics[i] if bigger_better else -metrics[i])
    best_params = {p.name: v for p, v in grid[best_i].items()}
    return {
        "algorithm": algorithm,
        "task": task,
        "metric": "accuracy" if bigger_better else "rmse",
        "best_score": metrics[best_i],
        "best_params": best_params,
        "all_scores": metrics,
    }


def bayesian_optimize(
    df: DataFrame, algorithm: str, features: list[str], target: str,
    param_space: dict[str, list], n_calls: int = 20, folds: int = 3,
    seed: int = 42,
) -> dict:
    """neurondb_bayesian_optimize (ml_hyperparameter_tuning.c:560-700).

    The reference's 'bayesian' optimizer is explicitly a deterministic
    demo sampler: call i picks value[i % len] for each parameter and
    scores it by cross-validation, tracking the best — reproduced here
    (same contract: per-call (params, score) rows + best). Duplicate
    combinations (the cycle repeats after lcm of the list lengths) are
    scored once and the cached score re-emitted, like re-evaluating a
    deterministic model."""
    results = []
    cache: dict[tuple, float] = {}
    best = None
    for i in range(n_calls):
        params = {k: vals[i % len(vals)] for k, vals in param_space.items()}
        key = tuple(sorted(params.items()))
        if key not in cache:
            res = cross_validate(
                df, algorithm, features, target,
                param_grid={k: [v] for k, v in params.items()},
                folds=folds, seed=seed,
            )
            score = res["best_score"]
            # normalize to higher-is-better like the reference's best_score
            if res["metric"] == "rmse":
                score = -score
            cache[key] = score
        row = {"call": i, "params": params, "score": cache[key]}
        results.append(row)
        if best is None or row["score"] > best["score"]:
            best = row
    return {"results": results, "best": best}


def cv_pool_size(cores: int, n_candidates: int) -> int:
    """Candidates :func:`auto_train` cross-validates at once. Each is a
    CrossValidator with parallelism=4, so the pool bounds the fits in
    flight: sequential below 8 cores, else about one candidate per 8
    cores with a floor of 2 and a cap of 3 (``cores // 8`` alone left
    every host under 16 cores sequential)."""
    if cores < 8:
        return 1
    return max(1, min(3, n_candidates, max(2, cores // 8)))


def auto_train(
    df: DataFrame, features: list[str], target: str, task: str,
    candidates: list[str] | None = None, folds: int = 3,
    catalog: Catalog | None = None, seed: int = 42,
) -> dict:
    """auto_train (ml_automl.c:119): CV each candidate, train the winner on
    the full data, register it, return the leaderboard."""
    if candidates is None:
        candidates = (
            ["linear_regression", "ridge", "random_forest_regressor", "gbt_regressor"]
            if task == "regression"
            else ["logistic_regression", "random_forest", "gbt", "naive_bayes"]
        )
    # (r15, guide §2.6) candidates are independent jobs: CV them from a
    # small thread pool so one candidate's straggler tasks back-fill with
    # the next candidate's work instead of leaving the cluster idle —
    # board order stays the declared candidate order (results are keyed
    # by index, not completion order), so the leaderboard, tie-breaks and
    # the selected winner are byte-identical to the sequential loop.
    from concurrent.futures import ThreadPoolExecutor

    def _cv_one(algo: str) -> dict:
        t0 = time.time()
        try:
            res = cross_validate(df, algo, features, target, folds=folds, seed=seed)
            res["seconds"] = time.time() - t0
            return res
        except Exception as e:  # a candidate failing must not sink the rest
            return {"algorithm": algo, "error": str(e)[:200]}

    workers = cv_pool_size(df.sparkSession.sparkContext.defaultParallelism, len(candidates))
    with ThreadPoolExecutor(max_workers=workers) as pool:
        board = list(pool.map(_cv_one, candidates))
    scored = [b for b in board if "best_score" in b]
    bigger_better = task != "regression"
    scored.sort(key=lambda b: b["best_score"], reverse=bigger_better)
    result = {"leaderboard": board, "best": scored[0] if scored else None}
    if scored and catalog is not None:
        eng = MLEngine(catalog)
        mid = eng.train(df, scored[0]["algorithm"], features, target=target)
        result["model_id"] = mid
    return result
