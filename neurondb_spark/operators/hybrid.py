"""Hybrid vector+text search and rank fusion (SURVEY §2.5).

Reference: hybrid_search SRF generates SQL `w*(1 - (embedding <-> q)) +
(1-w)*ts_rank(...)` ORDER BY DESC LIMIT k and re-enters the executor via SPI
(NeuronDB/src/search/hybrid_search.c:84-216). Here the whole thing is ONE
DataFrame expression Catalyst can see through — filter pushdown into the
scan, TakeOrderedAndProject top-k, no optimizer barrier.

Fusion: reciprocal_rank_fusion (hybrid_search.c:347-361,
neurondb--1.0.sql:6791-6837) = full-outer join of ranked lists,
score = Σ 1/(k0 + rank).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from neurondb_spark.functions.distance import distance
from neurondb_spark.functions.text import bm25_score


def hybrid_search(
    df: DataFrame,
    vec_col: str,
    text_col: str,
    query_vec,
    query_text: str,
    filters: dict | None = None,
    vector_weight: float = 0.7,
    k: int = 10,
    metric: str = "l2",
    dim: int | None = None,
    tiebreak: Sequence[str] = (),
    score_col: str = "hybrid_score",
) -> DataFrame:
    """w * (1 - dist(v, q)) + (1-w) * bm25(qtext, text), filtered, top-k DESC.

    ``filters`` is the jsonb-containment analog (hybrid_search.c:199-216):
    a dict of column→value equality predicates applied before scoring (and
    pushed into the parquet scan by Catalyst).
    """
    for col, val in (filters or {}).items():
        df = df.where(F.col(col) == F.lit(val))
    vscore = 1.0 - distance(vec_col, query_vec, metric, dim=dim, checked=False)
    tscore = bm25_score(query_text, text_col)
    w = float(vector_weight)
    out = df.withColumn(score_col, F.lit(w) * vscore + F.lit(1.0 - w) * tscore)
    order = [F.col(score_col).desc(), *[F.col(c).asc() for c in tiebreak]]
    return out.orderBy(*order).limit(k)


def semantic_keyword_search(
    df: DataFrame,
    vec_col: str,
    text_col: str,
    query_vec,
    query_text: str,
    k: int = 10,
    dim: int | None = None,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Vector + keyword with equal weighting (hybrid_search.c:552-616)."""
    return hybrid_search(
        df, vec_col, text_col, query_vec, query_text,
        vector_weight=0.5, k=k, dim=dim, tiebreak=tiebreak,
        score_col="combined_score",
    )


def rank_list(
    df: DataFrame, id_col: str, order: Column, rank_col: str = "rank",
    score: Column | None = None, ascending: bool = True,
) -> DataFrame:
    """Materialize a ranked list (id, rank) — helper for fusion operators.

    Prefer passing ``score`` (a plain Column) + ``ascending``: the score is
    computed DISTRIBUTED first, and only (id, score) pairs enter the
    single-partition global window — sorting precomputed doubles is
    trivial at candidate-list sizes. Passing a SortOrder via ``order``
    evaluates the expression inside the window task (single-core) — kept
    for compatibility."""
    from pyspark.sql import Window as W

    if score is not None:
        scored = df.select(F.col(id_col), score.alias("_score"))
        o = F.col("_score").asc() if ascending else F.col("_score").desc()
        w = W.orderBy(o, F.col(id_col).asc())
        return scored.select(id_col, F.row_number().over(w).alias(rank_col))
    w = W.orderBy(order, F.col(id_col).asc())
    return df.select(id_col, F.row_number().over(w).alias(rank_col))


def reciprocal_rank_fusion(
    lists: Sequence[DataFrame],
    id_col: str,
    k0: float = 60.0,
    rank_col: str = "rank",
    k: int | None = None,
) -> DataFrame:
    """RRF over N ranked lists: Σ_i 1/(k0 + rank_i), absent → no
    contribution (hybrid_search.c:347-361). Returns (id, rrf_score) sorted
    DESC with id tiebreak."""
    out = None
    for i, lst in enumerate(lists):
        contrib = lst.select(
            F.col(id_col),
            (1.0 / (F.lit(float(k0)) + F.col(rank_col).cast("double"))).alias(f"_c{i}"),
        )
        out = contrib if out is None else out.join(contrib, id_col, "full_outer")
    score = None
    for i in range(len(lists)):
        c = F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
        score = c if score is None else score + c
    res = out.select(F.col(id_col), score.alias("rrf_score")).orderBy(
        F.col("rrf_score").desc(), F.col(id_col).asc()
    )
    return res.limit(k) if k else res


def hybrid_dense_sparse_search(
    df: DataFrame,
    dense_col: str,
    text_col: str,
    query_vec,
    query_text: str,
    k: int = 10,
    k0: float = 60.0,
    dim: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Dense + sparse retrieval fused by RRF
    (src/search/hybrid_dense_sparse.c): rank by vector distance and by BM25
    independently, fuse 1/(k0+rank)."""
    dense = rank_list(
        df, id_col, None,
        score=distance(dense_col, query_vec, "l2", dim=dim, checked=False),
        ascending=True,
    )
    sparse = rank_list(
        df, id_col, None, score=bm25_score(query_text, text_col), ascending=False
    )
    return reciprocal_rank_fusion([dense, sparse], id_col, k0=k0, k=k)
