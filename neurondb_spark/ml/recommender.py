"""Recommender operators beyond ALS (SURVEY §2.8; reference
NeuronDB/src/ml/ml_recommender.c:128-1706 — train_collaborative_filter,
recommend_items, recommend_content_based, user_similarity,
recommend_hybrid; all single-node SPI loops over a ratings table).

Spark shapes (all keyed joins — no all-pairs anywhere):

- ``user_item``: the ratings matrix as (user, item, value) rows with
  exact decimal-summed values (dsum) — deterministic under any
  partitioning.
- ``user_similarity``: cosine between ONE target user's sparse vector
  and every other user, computed by joining the target's items (a small
  broadcast) against the matrix on item — cost ∝ co-occurrence rows of
  the target's items, never users². Σs via bsum → bit-reproducible.
- ``recommend_hybrid``: α·CF + (1−α)·content for items the target has
  not interacted with. CF(item) = Σ_u sim(target,u)·value(u,item) (one
  join of the sims frame against the matrix on user, groupBy item);
  content(item) = cosine(profile, item_vector) with profile = exact
  per-position decimal mean of the target's item vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neurondb_spark.functions.aggregates import bsum, dsum


def user_item(
    df: DataFrame, user_col: str, item_col: str, value_col: str
) -> DataFrame:
    """Ratings matrix rows (user, item, value=Σ value_col) — dsum keeps
    the per-cell double identical regardless of row order."""
    return (
        df.groupBy(F.col(user_col).alias("user"), F.col(item_col).alias("item"))
        .agg(dsum(F.col(value_col)).alias("value"))
    )


def user_similarity(
    ui: DataFrame, target_user, k: int | None = 10
) -> DataFrame:
    """Cosine between the target user's item vector and every other
    user's, over shared items (user_similarity, ml_recommender.c).
    Returns (user, cosine_sim) DESC, user ASC; target excluded. Users
    sharing no item are absent (their dot is 0 — same as the reference's
    skip)."""
    t = ui.where(F.col("user") == F.lit(target_user)).select(
        F.col("item"), F.col("value").alias("_tv")
    )
    t_norm_row = ui.where(F.col("user") == F.lit(target_user)).agg(
        F.sqrt(bsum(F.col("value") * F.col("value"))).alias("n")
    ).head()
    if t_norm_row is None or t_norm_row["n"] is None or t_norm_row["n"] == 0.0:
        raise ValueError(f"neurondb: user {target_user!r} has no ratings")
    t_norm = float(t_norm_row["n"])
    norms = ui.groupBy("user").agg(
        F.sqrt(bsum(F.col("value") * F.col("value"))).alias("_norm")
    )
    dots = (
        ui.where(F.col("user") != F.lit(target_user))
        .join(F.broadcast(t), "item")
        .groupBy("user")
        .agg(bsum(F.col("value") * F.col("_tv")).alias("_dot"))
    )
    out = dots.join(norms, "user").select(
        "user",
        (F.col("_dot") / (F.lit(t_norm) * F.col("_norm"))).alias("cosine_sim"),
    )
    out = out.orderBy(F.col("cosine_sim").desc(), F.col("user").asc())
    return out.limit(k) if k else out


def recommend_hybrid(
    ui: DataFrame,
    item_vectors: DataFrame,
    target_user,
    alpha: float = 0.5,
    k: int = 10,
    vec_col: str = "embedding",
    item_id_col: str = "item",
    dim: int | None = None,
) -> DataFrame:
    """α·CF + (1−α)·content top-k over unseen items (recommend_hybrid,
    ml_recommender.c). ``item_vectors`` carries (item_id_col, vec_col)."""
    from neurondb_spark.functions.aggregates import repack, vector_agg_exploded
    from neurondb_spark.functions.distance import cosine_similarity

    sims = user_similarity(ui, target_user, k=None)
    cf = (
        ui.join(sims, "user")
        .groupBy("item")
        .agg(bsum(F.col("cosine_sim") * F.col("value")).alias("cf_score"))
    )
    seen = ui.where(F.col("user") == F.lit(target_user)).select("item")
    seen_vecs = item_vectors.join(
        seen.withColumnRenamed("item", item_id_col), item_id_col
    )
    prof = repack(
        vector_agg_exploded(seen_vecs, vec_col, [], op="avg", exact=True)
        .withColumn("_g", F.lit(1)),
        ["_g"], out_col="p",
    )
    prof_row = prof.head()
    if prof_row is None or prof_row["p"] is None:
        raise ValueError(
            f"neurondb: recommend_hybrid target user {target_user!r} has no "
            "seen items with vectors in item_vectors — content profile is "
            "undefined (use user_similarity/CF-only scoring instead)"
        )
    profile = [float(x) for x in prof_row["p"]]
    content = item_vectors.select(
        F.col(item_id_col).alias("item"),
        cosine_similarity(vec_col, profile, dim=dim,
                          checked=False).alias("content_score"),
    )
    scored = (
        cf.join(content, "item", "full_outer")
        .join(seen.withColumn("_seen", F.lit(1)), "item", "left")
        .where(F.col("_seen").isNull())
        .select(
            "item",
            (
                F.lit(float(alpha)) * F.coalesce(F.col("cf_score"), F.lit(0.0))
                + F.lit(1.0 - float(alpha))
                * F.coalesce(F.col("content_score"), F.lit(0.0))
            ).alias("hybrid_score"),
        )
    )
    return scored.orderBy(
        F.col("hybrid_score").desc(), F.col("item").asc()
    ).limit(k)
