"""Remaining §2.3 distance metrics as oracle-checked kNN queries:
Canberra, Bray-Curtis (tested-but-absent metrics,
sql/03_distance_metrics.sql:128-175), Minkowski p=3
(vector_distance.c:335), Jaccard/Dice over sign-membership
(vector_distance.c:453,497 — set-bit ratio semantics)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from neurondb_spark import oracle as O
from neurondb_spark.functions.distance import (
    array_sql,
    bray_curtis_distance,
    canberra_distance,
    dice_distance,
    double_sql,
    jaccard_distance,
    matching_coefficient,
    rogers_tanimoto_distance,
    russell_rao_distance,
    sokal_michener_distance,
)
from neurondb_spark.functions.quantization import binary_signature_bits
from neurondb_spark.registry.common import EMB_DIM, QVEC_CTE, qvec, t


def _topk(emb: DataFrame, d: Column, k: int = 12) -> DataFrame:
    return (
        emb.select("vec_id", d.alias("distance"))
        .orderBy(F.col("distance").asc(), F.col("vec_id").asc())
        .limit(k)
    )


def _q_canberra(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    q = qvec(spark, sf_dir)
    return _topk(emb, canberra_distance("embedding", q, checked=False))


def _sql_canberra() -> str:
    d = O.sql_canberra("e.embedding", "q.qe", EMB_DIM)
    return f"""{QVEC_CTE}
SELECT e.vec_id, {d} AS distance FROM embeddings e CROSS JOIN q
ORDER BY distance ASC, e.vec_id ASC LIMIT 12"""


def _q_braycurtis(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    q = qvec(spark, sf_dir)
    return _topk(emb, bray_curtis_distance("embedding", q, checked=False))


def _sql_braycurtis() -> str:
    d = O.sql_bray_curtis("e.embedding", "q.qe", EMB_DIM)
    return f"""{QVEC_CTE}
SELECT e.vec_id, {d} AS distance FROM embeddings e CROSS JOIN q
ORDER BY distance ASC, e.vec_id ASC LIMIT 12"""


def _q_minkowski3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p=3: cubes by explicit multiplication (exact in both engines); the
    final 1/3 root via pow() is rounded to 6 digits on both sides."""
    emb = t(spark, sf_dir, "embeddings")
    q = qvec(spark, sf_dir)
    cubes = (
        f"zip_with({array_sql('embedding')}, {array_sql(q)}, "
        "(x, y) -> abs(x - y) * abs(x - y) * abs(x - y))"
    )
    s = f"aggregate({cubes}, 0.0D, (s, t) -> s + t)"
    return _topk(emb, F.expr(f"round(pow({s}, {double_sql(1.0 / 3.0)}), 6)"))


def _sql_minkowski3() -> str:
    d = O.sql_minkowski_p3_rounded("e.embedding", "q.qe", EMB_DIM)
    return f"""{QVEC_CTE}
SELECT e.vec_id, {d} AS distance FROM embeddings e CROSS JOIN q
ORDER BY distance ASC, e.vec_id ASC LIMIT 12"""


def _sign_member_sql(col: str, i: int) -> str:
    return f"(CASE WHEN {O.elem(col, i)} >= 0.0 THEN 1 ELSE 0 END)"


def _signed(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list[float]]:
    """Embeddings with their sign-bit vector projected as ``_sig``, and the
    query's sign bits by the same rule (binary_signature_bits: x >= 0.0)."""
    emb = t(spark, sf_dir, "embeddings").withColumn(
        "_sig", binary_signature_bits("embedding")
    )
    return emb, [1.0 if x >= 0.0 else 0.0 for x in qvec(spark, sf_dir)]


def _q_jaccard_sign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, sig_q = _signed(spark, sf_dir)
    return _topk(emb, jaccard_distance("_sig", sig_q, checked=False))


def _q_dice_sign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, sig_q = _signed(spark, sf_dir)
    return _topk(emb, dice_distance("_sig", sig_q, checked=False))


def _sql_set_distance(kind: str) -> str:
    inter = " + ".join(
        f"(CASE WHEN {_sign_member_sql('e.embedding', i)} = 1 AND {_sign_member_sql('q.qe', i)} = 1 THEN 1.0 ELSE 0.0 END)"
        for i in range(1, EMB_DIM + 1)
    )
    union = " + ".join(
        f"(CASE WHEN {_sign_member_sql('e.embedding', i)} = 1 OR {_sign_member_sql('q.qe', i)} = 1 THEN 1.0 ELSE 0.0 END)"
        for i in range(1, EMB_DIM + 1)
    )
    ca = " + ".join(f"CAST({_sign_member_sql('e.embedding', i)} AS DOUBLE)" for i in range(1, EMB_DIM + 1))
    cb = " + ".join(f"CAST({_sign_member_sql('q.qe', i)} AS DOUBLE)" for i in range(1, EMB_DIM + 1))
    if kind == "jaccard":
        d = f"(CASE WHEN ({union}) = 0.0 THEN 0.0 ELSE 1.0 - ({inter}) / ({union}) END)"
    else:
        d = f"(CASE WHEN ({ca}) + ({cb}) = 0.0 THEN 0.0 ELSE 1.0 - (2.0 * ({inter})) / (({ca}) + ({cb})) END)"
    return f"""{QVEC_CTE}
SELECT e.vec_id, {d} AS distance FROM embeddings e CROSS JOIN q
ORDER BY distance ASC, e.vec_id ASC LIMIT 12"""


def _q_binary_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four tests-only binary metrics (sokal-michener, rogers-tanimoto,
    russell-rao, matching coefficient) over sign membership vs the query
    vector — completes SURVEY §2.3."""
    emb, sig_q = _signed(spark, sf_dir)
    emb = emb.where(F.col("vec_id") <= 100)
    return emb.select(
        "vec_id",
        sokal_michener_distance("_sig", sig_q, checked=False).alias("sokal_michener"),
        rogers_tanimoto_distance("_sig", sig_q, checked=False).alias("rogers_tanimoto"),
        russell_rao_distance("_sig", sig_q, checked=False).alias("russell_rao"),
        matching_coefficient("_sig", sig_q, checked=False).alias("matching_coef"),
    )


def _sql_binary_metrics() -> str:
    me = [_sign_member_sql("e.embedding", i) for i in range(1, EMB_DIM + 1)]
    mq = [_sign_member_sql("q.qe", i) for i in range(1, EMB_DIM + 1)]
    diff = " + ".join(
        f"(CASE WHEN {a} != {b} THEN 1.0 ELSE 0.0 END)" for a, b in zip(me, mq)
    )
    inter = " + ".join(
        f"(CASE WHEN {a} = 1 AND {b} = 1 THEN 1.0 ELSE 0.0 END)"
        for a, b in zip(me, mq)
    )
    n = "CAST(64 AS DOUBLE)"
    return f"""{QVEC_CTE}, c AS (
  SELECT e.vec_id, ({diff}) AS df, ({inter}) AS it FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <= 100)
SELECT vec_id,
  df / {n} AS sokal_michener,
  (2.0 * df) / (({n} - df) + 2.0 * df) AS rogers_tanimoto,
  ({n} - it) / {n} AS russell_rao,
  ({n} - df) / {n} AS matching_coef
FROM c"""


QUERIES = {
    "knn_canberra": (_q_canberra, _sql_canberra()),
    "knn_braycurtis": (_q_braycurtis, _sql_braycurtis()),
    "knn_minkowski3": (_q_minkowski3, _sql_minkowski3()),
    "knn_jaccard_sign": (_q_jaccard_sign, _sql_set_distance("jaccard")),
    "knn_dice_sign": (_q_dice_sign, _sql_set_distance("dice")),
    "binary_metrics4": (_q_binary_metrics, _sql_binary_metrics()),
}
