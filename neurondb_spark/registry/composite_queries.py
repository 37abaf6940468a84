"""Composite / remaining-surface queries: graph-constrained kNN
(operators.c:743-949), ensemble rerankers (§2.6), vector casts (§2.1),
Mahalanobis (§2.3)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neurondb_spark import oracle as O
from neurondb_spark.functions.distance import l2_distance, mahalanobis_distance
from neurondb_spark.functions.vector import (
    vector_cast_dimension,
    vector_concat,
    vector_slice,
)
from neurondb_spark.operators.graph import bfs, build_knn_graph
from neurondb_spark.operators.rerank import rerank_ensemble_borda, rerank_ensemble_weighted
from neurondb_spark.operators.hybrid import rank_list
from neurondb_spark.registry.common import COMPILE_DIM, EMB_DIM, QVEC_CTE, qvec, t

# fixed diagonal-inverse-covariance weights for Mahalanobis: deterministic
# pattern 1.0, 0.5, 1.0, 0.5, ...
MAHAL_W = [1.0 if i % 2 == 0 else 0.5 for i in range(EMB_DIM)]


def _q_graph_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph_knn (operators.c:743-949): kNN restricted to nodes within
    max_hops of a start node in the kNN graph. Pipeline: build 3-NN graph
    over embeddings → BFS 2 hops from vec_id=1 → exact kNN among the
    reachable set."""
    emb = t(spark, sf_dir, "embeddings")
    q = qvec(spark, sf_dir)
    # quadratic pair join → unrolled codegen distance, and spread the
    # single-file scan across cores before the cross join
    par = spark.sparkContext.defaultParallelism
    emb_p = emb.repartition(par)
    g = build_knn_graph(emb_p, "embedding", "vec_id", k=3)
    # broadcast_frontier: k=3 bounded-degree graph, 2 hops from one node —
    # frontier ≤ 3^2 nodes; broadcast joins keep BFS from shuffling edges
    reach = bfs(g.select("src", "dst"), 1, max_depth=2,
                broadcast_frontier=True).select(
        F.col("node").alias("vec_id")
    )
    cand = emb.join(reach, "vec_id")
    d = l2_distance("embedding", q,
                    dim=COMPILE_DIM, checked=False)
    return (
        cand.withColumn("distance", d)
        .orderBy(F.col("distance").asc(), F.col("vec_id").asc())
        .limit(5)
        .select("vec_id", "distance")
    )


def _sql_graph_knn() -> str:
    d_pair = O.sql_l2("a.embedding", "b.embedding", EMB_DIM)
    d_q = O.sql_l2("e.embedding", "q.qe", EMB_DIM)
    return f"""{QVEC_CTE},
pd AS MATERIALIZED (
  SELECT a.vec_id AS src, b.vec_id AS dst, {d_pair} AS pdist
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
pairs AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY pdist ASC, dst ASC) AS rn
  FROM pd),
g AS (SELECT src, dst FROM pairs WHERE rn <= 3),
und AS (SELECT src, dst FROM g UNION SELECT dst, src FROM g),
d0 AS (SELECT CAST(1 AS BIGINT) AS node),
d1 AS (SELECT DISTINCT u.dst AS node FROM und u JOIN d0 ON u.src = d0.node
       WHERE u.dst NOT IN (SELECT node FROM d0)),
d2 AS (SELECT DISTINCT u.dst AS node FROM und u JOIN d1 ON u.src = d1.node
       WHERE u.dst NOT IN (SELECT node FROM d0)
         AND u.dst NOT IN (SELECT node FROM d1)),
reach AS (SELECT node FROM d0 UNION ALL SELECT node FROM d1
          UNION ALL SELECT node FROM d2)
SELECT e.vec_id, {d_q} AS distance
FROM embeddings e JOIN reach r ON e.vec_id = r.node CROSS JOIN q
ORDER BY distance ASC, e.vec_id ASC LIMIT 5"""


def _ranked_lists(spark: SparkSession, sf_dir: str):
    """Two candidate score lists over documents: L2 similarity rank and
    lexical rank — the ensemble inputs."""
    from neurondb_spark.functions.text import bm25_score

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    j = docs.join(emb, docs.doc_id == emb.vec_id)
    q = qvec(spark, sf_dir)
    d = l2_distance("embedding", q,
                    dim=COMPILE_DIM, checked=False)
    vec_scores = j.select("doc_id", (1.0 / (1.0 + d)).alias("vscore"))
    text_scores = j.select(
        "doc_id", bm25_score("fast hash join on big table", "text").alias("tscore")
    )
    return vec_scores, text_scores


def _q_ensemble_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    vs, ts = _ranked_lists(spark, sf_dir)
    return rerank_ensemble_weighted(
        [vs, ts], "doc_id", ["vscore", "tscore"], [0.6, 0.4], k=15
    )


def _sql_ensemble_weighted() -> str:
    from neurondb_spark.functions.text import sql_bm25_score

    d = O.sql_l2("j.embedding", "q.qe", EMB_DIM)
    ts = sql_bm25_score("fast hash join on big table", "j.text")
    return f"""{QVEC_CTE},
j AS (SELECT doc.doc_id, doc.text, e.embedding
      FROM documents doc JOIN embeddings e ON doc.doc_id = e.vec_id)
SELECT j.doc_id,
       (0.6 * (1.0 / (1.0 + {d})) + 0.4 * ({ts})) AS ensemble_score
FROM j CROSS JOIN q
ORDER BY ensemble_score DESC, j.doc_id ASC LIMIT 15"""


def _q_ensemble_borda(spark: SparkSession, sf_dir: str) -> DataFrame:
    vs, ts = _ranked_lists(spark, sf_dir)
    lv = rank_list(vs, "doc_id", None, score=F.col("vscore"), ascending=False)
    lt = rank_list(ts, "doc_id", None, score=F.col("tscore"), ascending=False)
    return rerank_ensemble_borda([lv, lt], "doc_id", k=15)


def _sql_ensemble_borda() -> str:
    from neurondb_spark.functions.text import sql_bm25_score

    d = O.sql_l2("j.embedding", "q.qe", EMB_DIM)
    ts = sql_bm25_score("fast hash join on big table", "j.text")
    return f"""{QVEC_CTE},
j AS (SELECT doc.doc_id, doc.text, e.embedding
      FROM documents doc JOIN embeddings e ON doc.doc_id = e.vec_id),
n AS (SELECT COUNT(*) AS cnt FROM j),
lv AS (SELECT j.doc_id,
       ROW_NUMBER() OVER (ORDER BY (1.0 / (1.0 + {d})) DESC, j.doc_id ASC) AS rank
       FROM j CROSS JOIN q),
lt AS (SELECT j.doc_id,
       ROW_NUMBER() OVER (ORDER BY ({ts}) DESC, j.doc_id ASC) AS rank
       FROM j)
SELECT lv.doc_id,
       (CAST((SELECT cnt FROM n) - lv.rank AS DOUBLE)
        + CAST((SELECT cnt FROM n) - lt.rank AS DOUBLE)) AS borda_score
FROM lv JOIN lt ON lv.doc_id = lt.doc_id
ORDER BY borda_score DESC, lv.doc_id ASC LIMIT 15"""


def _q_vector_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.1 cast surface: pad/truncate, slice, concat-with-self prefix."""
    emb = t(spark, sf_dir, "embeddings").where(F.col("vec_id") <= 100)
    padded = vector_cast_dimension("embedding", 80)
    truncated = vector_cast_dimension("embedding", 16)
    sl = vector_slice("embedding", 5, 3)
    cc = vector_concat(vector_slice("embedding", 1, 2), vector_slice("embedding", 63, 2))
    return emb.select(
        "vec_id",
        F.size(padded).alias("pad_dim"),
        F.element_at(padded, 70).alias("pad_e70"),
        F.size(truncated).alias("trunc_dim"),
        F.element_at(sl, 1).alias("slice_e1"),
        F.element_at(cc, 3).alias("concat_e3"),
    )


def _sql_vector_casts() -> str:
    return f"""SELECT vec_id,
  80 AS pad_dim,
  0.0 AS pad_e70,
  16 AS trunc_dim,
  {O.elem('embedding', 5)} AS slice_e1,
  {O.elem('embedding', 63)} AS concat_e3
FROM embeddings WHERE vec_id <= 100"""


def _q_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    q = qvec(spark, sf_dir)
    d = mahalanobis_distance("embedding", q, MAHAL_W, dim=EMB_DIM, checked=False)
    return (
        emb.select("vec_id", d.alias("distance"))
        .orderBy(F.col("distance").asc(), F.col("vec_id").asc())
        .limit(12)
    )


def _sql_mahalanobis() -> str:
    terms = []
    for i in range(1, EMB_DIM + 1):
        e, qe = O.elem("e.embedding", i), O.elem("q.qe", i)
        terms.append(f"((({e}) - ({qe})) * (({e}) - ({qe})) * {MAHAL_W[i - 1]!r})")
    return f"""{QVEC_CTE}
SELECT e.vec_id, sqrt({' + '.join(terms)}) AS distance
FROM embeddings e CROSS JOIN q
ORDER BY distance ASC, e.vec_id ASC LIMIT 12"""


_XM_QUERY_TEXT = "find the sunset image"


def _q_cross_modal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cross_modal_search end-to-end (ml_multimodal.c:61-236): documents
    become binary media (utf-8 payloads), the mapInPandas fake decode
    produces 16 djb2 pseudo-pixels, media_features reduces them to a
    3-float embedding, and the text query searches that space. The STUB
    decode is deterministic, so the whole pipeline — including the Arrow
    batch path — is oracle-checkable; a real codec swaps in behind
    decode="strict" without touching the plan."""
    from neurondb_spark.operators.multimodal import (
        cross_modal_search,
        decode_media,
        media_features,
    )

    docs = (
        t(spark, sf_dir, "documents")
        # ASCII rows only: the fake decode hashes UTF-8 BYTES, and the
        # oracle's ascii()/length() work on codepoints — identical only
        # when each char is one byte (multi-byte docs are excluded on
        # BOTH sides by the same predicate)
        .where(F.octet_length("text") == F.length("text"))
        .select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "utf-8").alias("content"),
        )
    )
    media = media_features(decode_media(docs, n_values=16))
    out = cross_modal_search(media, _XM_QUERY_TEXT, k=5)
    return out.select("media_id", "distance")


def _sql_cross_modal() -> str:
    from neurondb_spark.functions.embed import hash_embed_py

    # pixels: h = djb2 over utf-8 bytes (ASCII corpus: ascii() == byte),
    # then per-pixel h = (h*33 XOR i) mod 2^32, p_i = (h % 256) / 255.0
    chars = ("list_transform(generate_series(1, length(text)), "
             "i -> ascii(substr(text, i, 1)))")
    h = (f"list_reduce(list_prepend(CAST(5381 AS BIGINT), {chars}), "
         f"(h, c) -> xor(h * 33, c) % 4294967296)")
    px = []
    cur = h
    for i in range(16):
        cur = f"(xor(({cur}) * 33, {i}) % 4294967296)"
        # the decode UDF emits array<float>: round each pixel to float32
        # exactly as storage does, then upcast — without this the oracle
        # diverges in the 8th decimal
        px.append(
            f"CAST(CAST(CAST(({cur}) % 256 AS DOUBLE) / 255.0 AS REAL) AS DOUBLE)"
        )
    mean = f"(({' + '.join(px)}) / 16)"
    sq = f"(({' + '.join(f'({p}) * ({p})' for p in px)}) / 16)"
    edge = f"(({' + '.join(f'abs(({px[i+1]}) - ({px[i]}))' for i in range(15))}) / 15)"
    emb = [mean, f"sqrt(({sq}) - ({mean}) * ({mean}))", edge]
    q = hash_embed_py(_XM_QUERY_TEXT, 3)
    d = " + ".join(
        f"(({e}) - {O.dlit(qv)}) * (({e}) - {O.dlit(qv)})"
        for e, qv in zip(emb, q)
    )
    return f"""SELECT doc_id AS media_id, sqrt({d}) AS distance
FROM documents WHERE octet_length(CAST(text AS BLOB)) = length(text)
ORDER BY distance ASC, media_id ASC LIMIT 5"""


def _q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation (north-star composition of the
    text-analysis + dedup family): language-ID → quality-score filter →
    exact fingerprint dedup (keep the lowest doc_id per fingerprint, one
    combiner-heavy groupBy — no window) → TRAINED quality-classifier
    filter (r7: the fixed-GD logistic curated-vs-crawl model from
    quality_classifier_scores, applied as a keep/drop stage with its
    probability averaged into the stats) → per-language corpus stats
    with decimal-exact means. Every stage is an oracle-proven operator;
    this row proves they compose without drift."""
    from neurondb_spark.functions.aggregates import davg
    from neurondb_spark.functions.text import (
        detect_language,
        doc_fingerprint,
        quality_score,
        token_count,
    )
    from neurondb_spark.registry.text_pipeline import _q_quality_classifier

    docs = t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        detect_language("text").alias("lang_pred"),
        quality_score("text").alias("q"),
        doc_fingerprint("text").alias("fp"),
        token_count("text").alias("n_tok"),
    ).where(F.col("q") >= 0.5)
    kept = (
        scored.groupBy("fp")
        .agg(F.min(F.struct("doc_id", "lang_pred", "n_tok", "q")).alias("s"))
        .select("s.*")
    )
    qc = _q_quality_classifier(spark, sf_dir)
    kept = kept.join(
        qc.where(F.col("prediction") == 1)
        .select("doc_id", "quality_prob"),
        "doc_id",
    )
    return kept.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        davg("q").alias("avg_quality"),
        davg("quality_prob").alias("avg_quality_prob"),
    )


def _sql_curation_pipeline() -> str:
    from neurondb_spark.functions.text import sql_doc_fingerprint, sql_tokenize
    from neurondb_spark.registry.text_pipeline import _LANG_WORDS

    toks = sql_tokenize("text")
    cnts = {
        lang: "len(list_filter(%s, x -> x IN (%s)))"
        % (toks, ", ".join(f"'{x}'" for x in w))
        for lang, w in _LANG_WORDS.items()
    }
    lang_expr = "'en'"
    best = cnts["en"]
    for lang in ("es", "de", "fr"):
        lang_expr = f"(CASE WHEN {cnts[lang]} > ({best}) THEN '{lang}' ELSE {lang_expr} END)"
        best = f"greatest({best}, {cnts[lang]})"
    n_tok = f"CAST(len({toks}) AS DOUBLE)"
    n_chars = "CAST(length(text) AS DOUBLE)"
    alpha = "CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)"
    stop = f"CAST(len(list_filter({toks}, x -> x IN ('the','and','of','to','in','a','is'))) AS DOUBLE)"
    uniq = f"CAST(len(list_distinct({toks})) AS DOUBLE)"
    q = (
        f"((least({n_tok} / 100.0, 1.0)) + "
        f"(CASE WHEN {n_chars} = 0.0 THEN 0.0 ELSE {alpha} / {n_chars} END) + "
        f"(least({stop} / greatest({n_tok} * 0.05, 1.0), 1.0)) + "
        f"(CASE WHEN {n_tok} = 0.0 THEN 0.0 ELSE {uniq} / {n_tok} END)) / 4.0"
    )
    from neurondb_spark.registry.text_pipeline import _sql_qc_ctes

    return f"""WITH {_sql_qc_ctes()},
scored AS (
  SELECT doc_id,
         (CASE WHEN ({best}) > 0 THEN {lang_expr} ELSE 'unknown' END) AS lang_pred,
         {q} AS q,
         {sql_doc_fingerprint('text')} AS fp,
         CAST(len({toks}) AS INTEGER) AS n_tok
  FROM documents),
filt AS (SELECT * FROM scored WHERE q >= 0.5),
kept AS (
  SELECT doc_id, fp, lang_pred, n_tok, q FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM filt) WHERE rn = 1),
qckept AS (
  SELECT k.lang_pred, k.n_tok, k.q,
         0.5 + 0.5 * z2.z / (1.0 + abs(z2.z)) AS quality_prob
  FROM kept k JOIN z2 ON k.doc_id = z2.doc_id
  WHERE z2.z > 0)
SELECT lang_pred, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       {O.davg('q')} AS avg_quality,
       {O.davg('quality_prob')} AS avg_quality_prob
FROM qckept GROUP BY lang_pred"""


QUERIES = {
    "cross_modal_search": (_q_cross_modal, _sql_cross_modal()),
    "graph_knn": (_q_graph_knn, _sql_graph_knn()),
    "rerank_ensemble_weighted": (_q_ensemble_weighted, _sql_ensemble_weighted()),
    "rerank_ensemble_borda": (_q_ensemble_borda, _sql_ensemble_borda()),
    "vector_casts": (_q_vector_casts, _sql_vector_casts()),
    "knn_mahalanobis": (_q_mahalanobis, _sql_mahalanobis()),
    "corpus_curation_pipeline": (_q_curation_pipeline, _sql_curation_pipeline()),
}
