"""Clustering-quality / recommender / community queries (SURVEY §2.8-2.9)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neurondb_spark import oracle as O
from neurondb_spark.ml.cluster_quality import davies_bouldin, similarity_histogram
from neurondb_spark.registry.common import COMPILE_DIM, EMB_DIM, QVEC_CTE, qvec, t
from neurondb_spark.registry.fixtures import fixture


def _q_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return davies_bouldin(emb, "embedding", "label", EMB_DIM)


def _sql_davies_bouldin() -> str:
    # centroid per (label,pos) with decimal(38,9) exact means; scatter and
    # pairwise centroid distances in double; bsum for the cross-row means
    dist_pos = (
        "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(generate_series(1, {d}), "
        "i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]) "
        "* (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]))), (x, y) -> x + y))"
    ).format(d=EMB_DIM)
    cdist = (
        "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(generate_series(1, {d}), "
        "i -> (a.centroid[i] - b.centroid[i]) * (a.centroid[i] - b.centroid[i]))), "
        "(x, y) -> x + y))"
    ).format(d=EMB_DIM)
    return f"""WITH ex AS (
  SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS pos
  FROM embeddings),
pp AS (
  SELECT label, pos,
    CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*) AS c
  FROM ex GROUP BY label, pos),
cents AS (
  SELECT label, list(c ORDER BY pos) AS centroid FROM pp GROUP BY label),
sc AS (
  SELECT e.label, {O.bsum('d')} / COUNT(*) AS s FROM (
    SELECT e.label, {dist_pos} AS d
    FROM embeddings e JOIN cents c ON e.label = c.label) e
  GROUP BY e.label),
cs AS (SELECT cents.label, centroid, s FROM cents JOIN sc ON cents.label = sc.label),
r AS (
  SELECT a.label AS la, MAX((a.s + b.s) / {cdist}) AS worst
  FROM cs a JOIN cs b ON a.label <> b.label
  GROUP BY a.label)
SELECT {O.bsum('worst')} / COUNT(*) AS davies_bouldin FROM r"""


def _q_sim_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    q = qvec(spark, sf_dir)
    return similarity_histogram(emb, "embedding", "vec_id", q, dim=COMPILE_DIM, bins=10)


def _sql_sim_histogram() -> str:
    sim = O.sql_cosine_similarity("e.embedding", "q.qe", EMB_DIM)
    width = repr((1.0 - (-1.0)) / 10)
    return f"""{QVEC_CTE}
SELECT CAST(least(greatest(floor((({sim}) - (-1.0)) / {width}), 0), 9) AS INTEGER) AS bin,
       COUNT(*) AS n
FROM embeddings e CROSS JOIN q
GROUP BY 1"""


def _q_recommend_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recommend_content_based (ml_recommender.c): items most similar to a
    user's liked item — kNN over item vectors excluding the seed."""
    emb = t(spark, sf_dir, "embeddings")
    q = qvec(spark, sf_dir, 7)
    from neurondb_spark.functions.distance import cosine_similarity

    sim = cosine_similarity("embedding", q, dim=COMPILE_DIM, checked=False)
    return (
        emb.where(F.col("vec_id") != 7)
        .select("vec_id", sim.alias("similarity"))
        .orderBy(F.col("similarity").desc(), F.col("vec_id").asc())
        .limit(10)
    )


def _sql_recommend_content() -> str:
    sim = O.sql_cosine_similarity("e.embedding", "q.qe", EMB_DIM)
    return f"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7)
SELECT e.vec_id, {sim} AS similarity
FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 7
ORDER BY similarity DESC, e.vec_id ASC LIMIT 10"""


def _q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vgraph_community_detection analog (vector_graph_ops.c:701):
    synchronous min-label propagation, fixed 3 rounds, over the
    part↔supplier graph → community size distribution."""
    from neurondb_spark.registry.quant_graph import _edges

    e = _edges(spark, sf_dir)
    # bipartite int encoding (even→odd) means the reversed half can't
    # collide with the forward half, and min-propagation is insensitive to
    # duplicate edges — skip the distinct shuffle entirely. The edge frame
    # is pinned co-partitioned on the per-round join key (r16, guide §2):
    # the r15 localCheckpoint had UnknownPartitioning, so every round's
    # labels⋈edges SortMergeJoin re-Exchanged + re-Sorted the FULL edge
    # frame; the cached InMemoryRelation preserves hashpartitioning(src)
    # + src ordering, so each round consumes the edges with no Exchange
    # and no Sort — one edge shuffle at build instead of one per round.
    und = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition(F.col("src"))
        .sortWithinPartitions("src")
        .persist()
    )
    try:
        labels = und.select(F.col("src").alias("node")).distinct().withColumn(
            "lbl", F.col("node")
        )
        for i in range(3):
            nb = (
                labels.join(und, labels.node == und.src)
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("lbl").alias("nb_min"))
            )
            labels = labels.join(nb, "node", "left").select(
                "node", F.least(F.col("lbl"), F.coalesce(F.col("nb_min"), F.col("lbl"))).alias("lbl")
            )
            if i < 2:
                # lazy (r15): lineage still truncated per round, but the
                # whole 3-round chain executes as ONE job — each round's
                # frame materializes once (both next-round references
                # share it)
                labels = labels.localCheckpoint(eager=False)
        out = (
            labels.groupBy("lbl")
            .agg(F.count(F.lit(1)).alias("community_size"))
            .groupBy("community_size")
            .agg(F.count(F.lit(1)).alias("n_communities"))
        )
        # eager: the result is a small histogram — materialize it here so
        # the pinned edge cache can be released before returning (the
        # caller's action replays the checkpointed rows; total work
        # unchanged, the 3-round chain still runs as one job)
        return out.localCheckpoint(eager=True)
    finally:
        und.unpersist()


def _sql_label_propagation() -> str:
    from neurondb_spark.registry.quant_graph import _SQL_EDGES

    it = """l{K} AS (
  SELECT l.node, least(l.lbl, COALESCE(m.nb_min, l.lbl)) AS lbl
  FROM l{P} l LEFT JOIN (
    SELECT u.dst AS node, MIN(l{P}.lbl) AS nb_min
    FROM l{P} JOIN und u ON l{P}.node = u.src GROUP BY u.dst) m
  ON l.node = m.node)"""
    body = ",\n".join(it.format(K=k, P=k - 1) for k in (1, 2, 3))
    return f"""WITH edges AS ({_SQL_EDGES}),
und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM und),
{body},
sizes AS (SELECT lbl, COUNT(*) AS community_size FROM l3 GROUP BY lbl)
SELECT community_size, COUNT(*) AS n_communities FROM sizes GROUP BY 1"""


_TARGET_USER = 7


@fixture("user_item", load=lambda spark, sf_dir, path: spark.read.parquet(path))
def _user_item(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Ratings matrix, materialized once per input set: the 600k-row
    lineitem⋈orders build would otherwise re-run for every one of the
    3+ aggregations each recommender query derives from it."""
    from neurondb_spark.ml.recommender import user_item

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    df = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"),
        F.col("l_quantity").cast("double").alias("q"),
    )
    user_item(df, "u", "i", "q").write.parquet(path)


_SQL_UI = f"""ui AS (
  SELECT o.o_custkey AS u, l.l_partkey AS i,
         {O.dsum('l.l_quantity')} AS v
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2),
tgt AS (SELECT i, v FROM ui WHERE u = {_TARGET_USER}),
tn AS (SELECT sqrt({O.bsum('v * v')}) AS n FROM tgt),
norms AS (SELECT u, sqrt({O.bsum('v * v')}) AS nrm FROM ui GROUP BY u),
dots AS (SELECT ui.u, {O.bsum('ui.v * tgt.v')} AS d
         FROM ui JOIN tgt ON ui.i = tgt.i
         WHERE ui.u <> {_TARGET_USER} GROUP BY ui.u),
sims AS (SELECT dots.u, d / ((SELECT n FROM tn) * norms.nrm) AS cosine_sim
         FROM dots JOIN norms ON dots.u = norms.u)"""


def _q_user_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """user_similarity (ml_recommender.c): cosine between customer 7's
    part-quantity vector and every co-purchasing customer — sparse dot
    via the shared-item join, Σs through bsum (bit-reproducible)."""
    from neurondb_spark.ml.recommender import user_similarity

    ui = _user_item(spark, sf_dir)
    return user_similarity(ui, _TARGET_USER, k=10).select(
        F.col("user").alias("user_id"), "cosine_sim"
    )


def _sql_user_similarity() -> str:
    return f"""WITH {_SQL_UI}
SELECT u AS user_id, cosine_sim FROM sims
ORDER BY cosine_sim DESC, user_id ASC LIMIT 10"""


def _q_recommend_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recommend_hybrid (ml_recommender.c): α·CF + (1−α)·content over
    unseen parts for customer 7 — CF from similarity-weighted
    co-purchases, content from the cosine of each part's embedding to
    the exact decimal-mean profile of purchased parts."""
    from neurondb_spark.ml.recommender import recommend_hybrid

    ui = _user_item(spark, sf_dir)
    vecs = t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("item"), "embedding"
    )
    return recommend_hybrid(
        ui, vecs, _TARGET_USER, alpha=0.5, k=10, dim=COMPILE_DIM
    ).select(F.col("item").alias("part_id"), "hybrid_score")


def _sql_recommend_hybrid() -> str:
    cos = O.sql_cosine_similarity("e.embedding", "pr.p", EMB_DIM)
    return f"""WITH {_SQL_UI},
cf AS (SELECT ui.i, {O.bsum('sims.cosine_sim * ui.v')} AS cf_score
       FROM ui JOIN sims ON ui.u = sims.u GROUP BY ui.i),
seen AS (SELECT i FROM tgt),
sx AS (SELECT e.vec_id, unnest(e.embedding) AS v,
              generate_subscripts(e.embedding, 1) AS pos
       FROM embeddings e JOIN seen ON e.vec_id = seen.i),
pp AS (SELECT pos,
         CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
           / COUNT(*) AS c
       FROM sx GROUP BY pos),
pr AS (SELECT list(c ORDER BY pos) AS p FROM pp),
content AS (SELECT e.vec_id AS i, {cos} AS content_score
            FROM embeddings e CROSS JOIN pr),
allitems AS (
  SELECT COALESCE(cf.i, content.i) AS i,
         (0.5 * COALESCE(cf.cf_score, 0.0)
          + 0.5 * COALESCE(content.content_score, 0.0)) AS hybrid_score
  FROM cf FULL OUTER JOIN content ON cf.i = content.i
  WHERE COALESCE(cf.i, content.i) NOT IN (SELECT i FROM seen))
SELECT i AS part_id, hybrid_score FROM allitems
ORDER BY hybrid_score DESC, part_id ASC LIMIT 10"""


QUERIES = {
    "davies_bouldin": (_q_davies_bouldin, _sql_davies_bouldin()),
    "user_similarity": (_q_user_similarity, _sql_user_similarity()),
    "recommend_hybrid": (_q_recommend_hybrid, _sql_recommend_hybrid()),
    "similarity_histogram": (_q_sim_histogram, _sql_sim_histogram()),
    "recommend_content_based": (_q_recommend_content, _sql_recommend_content()),
    "community_label_propagation": (_q_label_propagation, _sql_label_propagation()),
}
