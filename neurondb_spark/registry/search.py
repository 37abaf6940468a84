"""Search-operator queries: hybrid search, BM25, RRF fusion, similarity
join (SURVEY §2.5)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neurondb_spark import oracle as O
from neurondb_spark.functions.text import bm25_score, sql_bm25_score
from neurondb_spark.operators.hybrid import (
    hybrid_dense_sparse_search,
    hybrid_search,
    rank_list,
    reciprocal_rank_fusion,
    semantic_keyword_search,
)
from neurondb_spark.operators.joins import vec_join
from neurondb_spark.registry.common import COMPILE_DIM, EMB_DIM, QVEC_CTE, qvec, t, tp

QUERY_TEXT = "hash join merge sort"


def _docs_with_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    # repartition AFTER the join: AQE coalesces the small shuffle back to
    # one partition, which would serialize the CPU-heavy BM25/distance
    # scoring that follows (hybrid 0.92→0.69s, rrf 1.23→0.95s at sf0.1)
    return docs.join(emb, docs.doc_id == emb.vec_id).repartition(
        spark.sparkContext.defaultParallelism
    )


def _q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs_with_emb(spark, sf_dir)
    q = qvec(spark, sf_dir)
    out = hybrid_search(
        df, "embedding", "text", q, QUERY_TEXT,
        filters={"lang": "en"}, vector_weight=0.7, k=10,
        metric="l2", dim=COMPILE_DIM, tiebreak=["doc_id"],
    )
    return out.select("doc_id", "hybrid_score")


def _sql_hybrid_search() -> str:
    vs = f"(1.0 - {O.sql_l2('d.embedding', 'q.qe', EMB_DIM)})"
    ts = sql_bm25_score(QUERY_TEXT, "d.text")
    # NB: the text weight must be the Python double 1.0 - 0.7
    # (0.30000000000000004), not the decimal literal 0.3
    return f"""{QVEC_CTE}
SELECT d.doc_id, (0.7 * {vs} + {1.0 - 0.7!r} * {ts}) AS hybrid_score
FROM (SELECT doc.*, e.embedding FROM documents doc
      JOIN embeddings e ON doc.doc_id = e.vec_id WHERE doc.lang = 'en') d
CROSS JOIN q
ORDER BY hybrid_score DESC, d.doc_id ASC LIMIT 10"""


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tp(spark, sf_dir, "documents")  # parallelize the per-row scoring
    return (
        docs.select("doc_id", bm25_score(QUERY_TEXT, "text").alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )


def _sql_bm25_topk() -> str:
    return f"""SELECT doc_id, {sql_bm25_score(QUERY_TEXT, 'text')} AS bm25
FROM documents ORDER BY bm25 DESC, doc_id ASC LIMIT 20"""


def _q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs_with_emb(spark, sf_dir)
    q = qvec(spark, sf_dir)
    from neurondb_spark.functions.distance import l2_distance

    dense = rank_list(
        df, "doc_id", None,
        score=l2_distance("embedding", q, dim=COMPILE_DIM, checked=False),
        ascending=True,
    )
    sparse = rank_list(
        df, "doc_id", None, score=bm25_score(QUERY_TEXT, "text"), ascending=False
    )
    return reciprocal_rank_fusion([dense, sparse], "doc_id", k0=60.0, k=20)


def _sql_rrf_fusion() -> str:
    d = O.sql_l2("d.embedding", "q.qe", EMB_DIM)
    ts = sql_bm25_score(QUERY_TEXT, "d.text")
    return f"""{QVEC_CTE},
j AS (SELECT doc.doc_id, doc.text, e.embedding
      FROM documents doc JOIN embeddings e ON doc.doc_id = e.vec_id),
dense AS (SELECT d.doc_id,
          ROW_NUMBER() OVER (ORDER BY {d} ASC, d.doc_id ASC) AS rank
          FROM j d CROSS JOIN q),
sparse AS (SELECT d.doc_id,
           ROW_NUMBER() OVER (ORDER BY {ts} DESC, d.doc_id ASC) AS rank
           FROM j d)
SELECT COALESCE(dense.doc_id, sparse.doc_id) AS doc_id,
       (COALESCE(1.0 / (60.0 + CAST(dense.rank AS DOUBLE)), 0.0)
        + COALESCE(1.0 / (60.0 + CAST(sparse.rank AS DOUBLE)), 0.0)) AS rrf_score
FROM dense FULL OUTER JOIN sparse ON dense.doc_id = sparse.doc_id
ORDER BY rrf_score DESC, doc_id ASC LIMIT 20"""


def _q_semantic_keyword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic_keyword_search (hybrid_search.c:552-616): equal-weight
    vector+keyword blend — the pytest-only family graduated to the gate."""
    df = _docs_with_emb(spark, sf_dir)
    q = qvec(spark, sf_dir)
    out = semantic_keyword_search(
        df, "embedding", "text", q, QUERY_TEXT,
        k=12, dim=COMPILE_DIM, tiebreak=["doc_id"],
    )
    return out.select("doc_id", "combined_score")


def _sql_semantic_keyword() -> str:
    vs = f"(1.0 - {O.sql_l2('d.embedding', 'q.qe', EMB_DIM)})"
    ts = sql_bm25_score(QUERY_TEXT, "d.text")
    return f"""{QVEC_CTE}
SELECT d.doc_id, (0.5 * {vs} + 0.5 * {ts}) AS combined_score
FROM (SELECT doc.doc_id, doc.text, e.embedding FROM documents doc
      JOIN embeddings e ON doc.doc_id = e.vec_id) d
CROSS JOIN q
ORDER BY combined_score DESC, d.doc_id ASC LIMIT 12"""


def _q_hybrid_dense_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hybrid_dense_sparse_search (src/search/hybrid_dense_sparse.c):
    dense-rank + BM25-rank fused by RRF through the dedicated operator
    (distinct from _q_rrf_fusion, which composes rank_list + RRF by hand)."""
    df = _docs_with_emb(spark, sf_dir)
    q = qvec(spark, sf_dir)
    return hybrid_dense_sparse_search(
        df, "embedding", "text", q, QUERY_TEXT,
        k=15, k0=30.0, dim=COMPILE_DIM, id_col="doc_id",
    )


def _sql_hybrid_dense_sparse() -> str:
    d = O.sql_l2("d.embedding", "q.qe", EMB_DIM)
    ts = sql_bm25_score(QUERY_TEXT, "d.text")
    return f"""{QVEC_CTE},
j AS (SELECT doc.doc_id, doc.text, e.embedding
      FROM documents doc JOIN embeddings e ON doc.doc_id = e.vec_id),
dense AS (SELECT d.doc_id,
          ROW_NUMBER() OVER (ORDER BY {d} ASC, d.doc_id ASC) AS rank
          FROM j d CROSS JOIN q),
sparse AS (SELECT d.doc_id,
           ROW_NUMBER() OVER (ORDER BY {ts} DESC, d.doc_id ASC) AS rank
           FROM j d)
SELECT COALESCE(dense.doc_id, sparse.doc_id) AS doc_id,
       (COALESCE(1.0 / (30.0 + CAST(dense.rank AS DOUBLE)), 0.0)
        + COALESCE(1.0 / (30.0 + CAST(sparse.rank AS DOUBLE)), 0.0)) AS rrf_score
FROM dense FULL OUTER JOIN sparse ON dense.doc_id = sparse.doc_id
ORDER BY rrf_score DESC, doc_id ASC LIMIT 15"""


def _q_vec_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vec_join(threshold) via the per-block BLAS path: same label-blocked
    candidate semantics as vec_join(on=["label"]), but the ~400k in-block
    pair distances run in one matmul per label instead of the interpreted
    HOF fold (3.2s → 0.9s at sf0.1); survivors' distances are recomputed
    with the exact fold so the emitted doubles hash-match the oracle."""
    from neurondb_spark.operators.joins import vec_join_gemm

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    out = vec_join_gemm(
        emb, emb.select(F.col("vec_id").alias("vec_id_r"), "label",
                        F.col("embedding").alias("embedding_r")),
        "embedding", "embedding_r", "vec_id", "vec_id_r",
        threshold=1.15, on="label", metric="l2", dim=COMPILE_DIM,
    )
    return (
        out.where(F.col("vec_id") < F.col("vec_id_r"))
        .select(
            F.col("vec_id").alias("id_a"),
            F.col("vec_id_r").alias("id_b"),
            "distance",
        )
    )


def _sql_vec_join() -> str:
    d = O.sql_l2("a.embedding", "b.embedding", EMB_DIM)
    return f"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, {d} AS distance
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {d} <= 1.15"""


QUERIES = {
    "hybrid_search": (_q_hybrid_search, _sql_hybrid_search()),
    "bm25_topk": (_q_bm25_topk, _sql_bm25_topk()),
    "rrf_fusion": (_q_rrf_fusion, _sql_rrf_fusion()),
    "semantic_keyword_search": (_q_semantic_keyword, _sql_semantic_keyword()),
    "hybrid_dense_sparse": (_q_hybrid_dense_sparse, _sql_hybrid_dense_sparse()),
    "vec_join_threshold": (_q_vec_join, _sql_vec_join()),
}
