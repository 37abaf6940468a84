"""Similarity / range joins (SURVEY §2.5 vec_join).

Reference: vec_join(ltab, rtab, pred, threshold) — join on a predicate,
keep pairs with L2 ≤ threshold (NeuronDB/src/core/operators.c:535-744; the
reference nested-loops it single-node).

Spark-first design: the equality predicate becomes the shuffle key (hash
join co-locates candidate pairs), the distance threshold is a post-join
filter evaluated as a codegen'd expression. At 100 TB the pred MUST be
selective (a block key): natural keys, LSH buckets (see index/lsh.py), or
IVF cluster ids. A cross join without a block key is refused unless
explicitly allowed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from neurondb_spark.functions.distance import distance


def require_block_key(on, allow_cross: bool) -> None:
    """Refuse an all-pairs pass without a block key unless the caller
    allows it (see knn_join_gemm for the scale path)."""
    if on is None and not allow_cross:
        raise ValueError(
            "neurondb: vec_join without a block key is O(n^2); pass "
            "on=[...] (block key) or allow_cross=True"
        )


def vec_join(
    left: DataFrame,
    right: DataFrame,
    left_vec: str,
    right_vec: str,
    threshold: float,
    on: list[str] | Column | None = None,
    metric: str = "l2",
    dim: int | None = None,
    dist_col: str = "distance",
    allow_cross: bool = False,
    lsuffix: str = "_l",
    rsuffix: str = "_r",
) -> DataFrame:
    """Pairs (l, r) with distance(l.vec, r.vec) ≤ threshold.

    ``on``: equality columns (block key — becomes the hash-join key) or an
    arbitrary join Column. None → cross join (refused unless allow_cross;
    quadratic — only for small candidate sets).
    """
    require_block_key(on, allow_cross)
    lcols = set(left.columns)
    rcols = set(right.columns)
    overlap = (lcols & rcols) - set(on if isinstance(on, list) else [])
    for c in overlap:
        right = right.withColumnRenamed(c, c + rsuffix)
        if right_vec == c:
            right_vec = c + rsuffix
    if on is None:
        joined = left.crossJoin(right)
    elif isinstance(on, list):
        joined = left.join(right, on=on)
    else:
        joined = left.join(right, on=on)
    d = distance(left_vec, right_vec, metric, dim=dim, checked=False)
    return joined.withColumn(dist_col, d).where(F.col(dist_col) <= F.lit(float(threshold)))


def knn_join(
    left: DataFrame,
    right: DataFrame,
    left_vec: str,
    right_vec: str,
    left_id: str,
    k: int = 5,
    on: list[str] | None = None,
    metric: str = "l2",
    dim: int | None = None,
    dist_col: str = "distance",
    rsuffix: str = "_r",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """For each left row, its k nearest right rows (within the block key if
    given) — the kNN-join primitive behind build_knn_graph
    (src/ml/analytics.c:1286). Window top-k per left id after the blocked
    join; one shuffle on the block key + one on left_id. ``tiebreak``
    columns make the k-th-neighbor cut deterministic under distance ties."""
    from pyspark.sql import Window as W

    for c in set(left.columns) & set(right.columns):
        if on and c in on:
            continue
        right = right.withColumnRenamed(c, c + rsuffix)
        if right_vec == c:
            right_vec = c + rsuffix
    joined = left.crossJoin(right) if on is None else left.join(right, on=on)
    d = distance(left_vec, right_vec, metric, dim=dim, checked=False)
    w = W.partitionBy(left_id).orderBy(
        F.col(dist_col).asc(), *[F.col(c).asc() for c in (tiebreak or [])]
    )
    return (
        joined.withColumn(dist_col, d)
        .withColumn("_knn_rn", F.row_number().over(w))
        .where(F.col("_knn_rn") <= k)
        .drop("_knn_rn")
    )


def knn_join_gemm(
    left: DataFrame,
    right: DataFrame,
    left_vec: str,
    right_vec: str,
    left_id: str,
    right_id: str,
    k: int = 5,
    metric: str = "l2",
    l_blocks: int | None = None,
    r_blocks: int = 2,
    dist_col: str = "distance",
) -> DataFrame:
    """Exact kNN join without a cross join — the scale path for the
    all-pairs case behind build_knn_graph (src/ml/analytics.c:1286; graph
    build in operators.c:743-949).

    Exact kNN over isotropic embeddings admits no metric pruning (every
    triangle-inequality bound admits every candidate — measured on the
    test embeddings), so O(n·m) distance evaluations are inherent; what
    must NOT be O(n·m) is materialized rows or a single-task cross join.
    Distributed block-nested-loop with vectorized kernels:

    1. Hash left ids into ``l_blocks`` and right ids into ``r_blocks``
       groups; replicate left ×r_blocks and right ×l_blocks (row volume
       n·r_blocks + m·l_blocks, NOT n·m).
    2. ``cogroup().applyInPandas`` per (lb, rb) pair: one BLAS matmul
       computes the block's distance matrix (the Arrow-batched analog of
       the reference's SIMD distance kernels, neurondb_simd_impl.c:21-71)
       and emits each left row's local top-k by (distance, right id).
    3. Window-merge the ≤ r_blocks·k partials per left id to the global
       top-k — the only full shuffle, at n·r_blocks·k rows.

    Exactness: float64 GEMM distances differ from the elementwise fold
    only at ~1e-15 relative, far below real neighbor gaps (~1e-6 on the
    test data); ranking ties break by right id ascending, matching
    ``knn_join(..., tiebreak=[right_id])``. The emitted distance is
    recomputed exactly (|x|²+|r|²−2x·r, clamped, sqrt for l2).

    Block counts are the memory/parallelism knob: a block pair
    (~n/l_blocks × m/r_blocks vectors) must fit one task, so BOTH rise
    with data size at corpus scale; neither side is ever collected to the
    driver or broadcast whole. Each (lb, rb) group pays fixed Arrow +
    python-worker overhead (~5-10ms), so for small inputs FEWER groups
    win — the default caps groups at ~2× the core count.
    """
    import numpy as np  # noqa: F401  (imported in the UDF closure too)

    if metric not in ("l2", "squared_l2", "cosine", "ip"):
        raise ValueError(f"neurondb: knn_join_gemm unsupported metric {metric!r}")
    spark = left.sparkSession
    if l_blocks is None:
        # groups = l_blocks·r_blocks ≈ 2× cores
        l_blocks = max(1, 2 * spark.sparkContext.defaultParallelism // r_blocks)
    lid_t = dict(left.dtypes)[left_id]
    rid_t = dict(right.dtypes)[right_id]
    out_schema = f"{left_id} {lid_t}, {right_id} {rid_t}, {dist_col} double"

    lx = left.select(
        left_id, left_vec,
        F.explode(F.sequence(F.lit(0), F.lit(r_blocks - 1))).alias("_rb"),
    ).withColumn("_lb", F.pmod(F.hash(F.col(left_id)), F.lit(l_blocks)))
    rx = right.select(
        right_id, right_vec,
        F.explode(F.sequence(F.lit(0), F.lit(l_blocks - 1))).alias("_lb"),
    ).withColumn("_rb", F.pmod(F.hash(F.col(right_id)), F.lit(r_blocks)))

    kk, met = k, metric

    def _block_topk(lpdf, rpdf):
        import numpy as np
        import pandas as pd

        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame({left_id: [], right_id: [], dist_col: []})
        X = np.array(lpdf[left_vec].tolist(), dtype=np.float64)
        R = np.array(rpdf[right_vec].tolist(), dtype=np.float64)
        rids = rpdf[right_id].to_numpy()
        if met in ("l2", "squared_l2"):
            D = (X * X).sum(1)[:, None] + (R * R).sum(1)[None, :] - 2.0 * (X @ R.T)
            np.maximum(D, 0.0, out=D)
            if met == "l2":
                np.sqrt(D, out=D)
        elif met == "cosine":
            nx = np.sqrt((X * X).sum(1))[:, None]
            nr = np.sqrt((R * R).sum(1))[None, :]
            D = 1.0 - (X @ R.T) / (nx * nr)
        else:  # ip: negative inner product ordering (<#>)
            D = -(X @ R.T)
        kx = min(kk, D.shape[1])
        order = np.lexsort((np.broadcast_to(rids, D.shape), D), axis=1)[:, :kx]
        return pd.DataFrame({
            left_id: np.repeat(lpdf[left_id].to_numpy(), kx),
            right_id: rids[order].ravel(),
            dist_col: np.take_along_axis(D, order, axis=1).ravel(),
        })

    partial = (
        lx.groupBy("_lb", "_rb")
        .cogroup(rx.groupBy("_lb", "_rb"))
        .applyInPandas(_block_topk, out_schema)
    )
    w = W.partitionBy(left_id).orderBy(
        F.col(dist_col).asc(), F.col(right_id).asc()
    )
    return (
        partial.withColumn("_knn_rn", F.row_number().over(w))
        .where(F.col("_knn_rn") <= k)
        .drop("_knn_rn")
    )


def gemm_candidates(X, R, thr: float):
    """Index pairs (i, j) with squared L2 ≤ ``thr``² between the rows of
    float64 matrices X and R, from one GEMM: ‖x‖² + ‖r‖² − 2x·r, clamped
    at 0. It differs from the elementwise fold by about 1e-15 relative,
    so a caller that passes its threshold plus a margin and rechecks the
    survivors exactly never loses a true pair."""
    import numpy as np

    D = (X * X).sum(1)[:, None] + (R * R).sum(1)[None, :] - 2.0 * (X @ R.T)
    np.maximum(D, 0.0, out=D)
    return np.nonzero(D <= thr * thr)


def vec_join_gemm(
    left: DataFrame,
    right: DataFrame,
    left_vec: str,
    right_vec: str,
    left_id: str,
    right_id: str,
    threshold: float,
    on: str,
    metric: str = "l2",
    dim: int | None = None,
    margin: float = 1e-6,
    dist_col: str = "distance",
) -> DataFrame:
    """Threshold similarity join via per-block BLAS — the vectorized form
    of ``vec_join`` for when the per-pair volume makes the interpreted
    higher-order fold the bottleneck (Spark HOFs never enter codegen:
    ~10µs/pair at dim=64 vs ~0.1µs in a BLAS matmul).

    Same candidate semantics as vec_join(on=[on]): pairs meet only inside
    a block. Stages:

    1. cogroup on the block key; one distance matrix per block emits
       candidate id pairs with GEMM distance ≤ threshold + ``margin``.
    2. candidates (already ≲ the final pair count) join back to their
       vectors and the distance is RECOMPUTED with the exact elementwise
       fold, re-filtered at ``threshold`` — emitted doubles are
       bit-identical to the fold definition (GEMM differs ~1e-15
       relative, far below ``margin``, so stage 1 never drops a true
       pair; cf. the same two-phase trick in ml/outliers.lof).

    Block sizes must fit a task (rows²·8B matrix) — at corpus scale use a
    finer block key (LSH band / IVF cluster), exactly as vec_join's
    docstring prescribes for its hash-join path.
    """
    import numpy as np  # noqa: F401

    if metric != "l2":
        raise ValueError("neurondb: vec_join_gemm supports l2 only")
    lx = left.select(F.col(on).alias("_bk"), F.col(left_id), F.col(left_vec))
    rx = right.select(F.col(on).alias("_bk"), F.col(right_id), F.col(right_vec))
    lid_t = dict(left.dtypes)[left_id]
    rid_t = dict(right.dtypes)[right_id]
    thr = float(threshold) + float(margin)

    def _block_pairs(lpdf, rpdf):
        import numpy as np
        import pandas as pd

        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame({left_id: [], right_id: []})
        X = np.array(lpdf[left_vec].tolist(), dtype=np.float64)
        R = np.array(rpdf[right_vec].tolist(), dtype=np.float64)
        ii, jj = gemm_candidates(X, R, thr)
        return pd.DataFrame({
            left_id: lpdf[left_id].to_numpy()[ii],
            right_id: rpdf[right_id].to_numpy()[jj],
        })

    pairs = (
        lx.groupBy("_bk")
        .cogroup(rx.groupBy("_bk"))
        .applyInPandas(_block_pairs, f"{left_id} {lid_t}, {right_id} {rid_t}")
    )
    lv = left.select(F.col(left_id), F.col(left_vec).alias("_lv"))
    rv = right.select(F.col(right_id), F.col(right_vec).alias("_rv"))
    d = distance("_lv", "_rv", metric, dim=dim, checked=False)
    return (
        pairs.join(lv, left_id).join(rv, right_id)
        .withColumn(dist_col, d)
        .where(F.col(dist_col) <= F.lit(float(threshold)))
        .drop("_lv", "_rv")
    )
