"""Exact fixed-iteration t-SNE gradient loop under the hash gate.

The reference's t-SNE (``NeuronDB/src/ml/ml_dimensionality_reduction.c:60``
``reduce_tsne``) has two stochastic/transcendental pieces: Gaussian
input affinities with a per-point perplexity search (exp), and the
RNG-seeded layout.  The OUTPUT side of t-SNE, though — the Student-t
q-distribution ``1/(1+||y_i-y_j||^2)`` and the KL gradient
``4·Σ_j (p_ij − q_ij)·qnum_ij·(y_i − y_j)`` — is entirely rational.
So, like the Cauchy-kernel GMM twin (ml/mixture.py), this module runs
the REAL t-SNE gradient loop bit-exactly in both engines by replacing
only the input-affinity kernel with the same rational form
(``p_ij ∝ 1/(c + d_ij^2)``, symmetric, globally normalised) and
initialising the layout from the first two input dimensions (the
deterministic cousin of PCA init).  Everything that makes t-SNE t-SNE
— the heavy-tailed q, the attractive/repulsive KL gradient, the
iterative descent — is under the hash gate; only
perplexity-calibrated affinities are approximated, which is exactly
the descent documented for ``tsne_label_centroids`` (rows-only).

Scale: the quadratic pair frame is bounded by the md5 subsample (the
reference also caps its t-SNE input, reduce_tsne sample cap); P is
computed once and localCheckpointed, each iteration is one pair-join
+ one keyed reduction per coordinate.  At 100 TB you'd never t-SNE
the corpus — you t-SNE a bounded sample, which is what this does
deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neurondb_spark.functions.aggregates import bsum
from neurondb_spark.functions.distance import squared_l2_distance
from neurondb_spark.functions.vector import vec
from neurondb_spark.operators.dedup import _md5_long


def tsne_fixed_grad(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    mod: int = 4,
    c: float = 1.0,
    iters: int = 2,
    lr: float = 100.0,
    dim: int = 64,
) -> DataFrame:
    """Deterministic t-SNE descent: md5 subsample (id % mod == 0 on the
    60-bit md5), rational symmetric affinities ``p ∝ 1/(c+d²)``,
    layout init = first two input dims, then ``iters`` exact KL
    gradient steps with the Student-t q.  Returns (id, y1, y2) —
    bit-identical doubles in Spark and DuckDB.
    """
    keep = (
        _md5_long(F.concat(F.lit("t"), F.col(id_col).cast("string"))) % mod
        == 0
    )
    sub = df.where(keep).select(
        F.col(id_col).alias("id"), vec(vec_col).alias("v")
    )
    a, b = sub.alias("a"), sub.alias("b")
    d2 = squared_l2_distance("a.v", "b.v", dim=dim, checked=False)
    pairs = (
        a.crossJoin(b)
        .where(F.col("a.id") != F.col("b.id"))
        .select(
            F.col("a.id").alias("i"),
            F.col("b.id").alias("j"),
            (F.lit(1.0) / (F.lit(float(c)) + d2)).alias("kern"),
        )
    )
    s_df = pairs.agg(bsum("kern").alias("S"))
    p = (
        pairs.crossJoin(F.broadcast(s_df))
        .select("i", "j", (F.col("kern") / F.col("S")).alias("p"))
        .localCheckpoint(eager=False)  # lazy (r15): one materialization
        # inside the caller's action, reused by every gradient round
    )
    y = sub.select(
        "id",
        F.element_at(F.col("v"), 1).alias("y1"),
        F.element_at(F.col("v"), 2).alias("y2"),
    )
    for _ in range(iters):
        yp = (
            p.join(y.select(F.col("id").alias("i"),
                            F.col("y1").alias("iy1"),
                            F.col("y2").alias("iy2")), "i")
            .join(y.select(F.col("id").alias("j"),
                           F.col("y1").alias("jy1"),
                           F.col("y2").alias("jy2")), "j")
            .withColumn("dx", F.col("iy1") - F.col("jy1"))
            .withColumn("dy", F.col("iy2") - F.col("jy2"))
        )
        yp = yp.withColumn(
            "qnum",
            F.lit(1.0)
            / (F.lit(1.0) + (F.col("dx") * F.col("dx")
                             + F.col("dy") * F.col("dy"))),
        ).localCheckpoint(eager=False)  # (r15) Z's broadcast subtree and
        # the coef projection both read yp — checkpoint so the pair join
        # computes once per round, not twice
        z_df = yp.agg(bsum("qnum").alias("Z"))
        yp = yp.crossJoin(F.broadcast(z_df)).withColumn(
            "coef",
            (F.col("p") - F.col("qnum") / F.col("Z")) * F.col("qnum"),
        )
        g = yp.groupBy("i").agg(
            bsum(F.col("coef") * F.col("dx")).alias("gx"),
            bsum(F.col("coef") * F.col("dy")).alias("gy"),
        )
        y = (
            y.join(g, y.id == g.i)
            .select(
                "id",
                (F.col("y1") - F.lit(float(lr)) * F.col("gx")).alias("y1"),
                (F.col("y2") - F.lit(float(lr)) * F.col("gy")).alias("y2"),
            )
            .localCheckpoint(eager=False)  # lazy (r15): plan truncation
            # without a per-round materialization job
        )
    return y.select(F.col("id").alias(id_col), "y1", "y2")


def sql_tsne_fixed_grad(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mod: int = 4,
    c: float = 1.0,
    iters: int = 2,
    lr: float = 100.0,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`tsne_fixed_grad` — identically-unrolled
    CTE chain (pair kernel + global S once, then e/qnum/Z/coef/grad/y
    per iteration)."""
    from neurondb_spark import oracle as O

    d2 = O.sql_squared_l2("a.v", "b.v", dim)
    steps = []
    prev_y = "y0"
    for it in range(1, iters + 1):
        steps.append(f"""yp{it} AS (
  SELECT p.i, p.j, p.p,
         yi.y1 - yj.y1 AS dx, yi.y2 - yj.y2 AS dy
  FROM p
  JOIN {prev_y} yi ON yi.id = p.i
  JOIN {prev_y} yj ON yj.id = p.j),
q{it} AS (
  SELECT *, 1.0 / (1.0 + (dx * dx + dy * dy)) AS qnum FROM yp{it}),
z{it} AS (SELECT {O.bsum('qnum')} AS z FROM q{it}),
cf{it} AS (
  SELECT q.i, q.dx, q.dy, (q.p - q.qnum / z.z) * q.qnum AS coef
  FROM q{it} q, z{it} z),
g{it} AS (
  SELECT i, {O.bsum('coef * dx')} AS gx, {O.bsum('coef * dy')} AS gy
  FROM cf{it} GROUP BY i),
y{it} AS (
  SELECT y.id, y.y1 - {lr!r} * g.gx AS y1, y.y2 - {lr!r} * g.gy AS y2
  FROM {prev_y} y JOIN g{it} g ON g.i = y.id)""")
        prev_y = f"y{it}"
    return f"""WITH sub AS MATERIALIZED (
  SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS v
  FROM {table}
  WHERE CAST(('0x' || substr(md5('t' || CAST({id_col} AS VARCHAR)), 1, 15))
             AS BIGINT) % {mod} = 0),
pairs AS MATERIALIZED (
  SELECT a.id AS i, b.id AS j, 1.0 / ({c!r} + {d2}) AS kern
  FROM sub a JOIN sub b ON a.id <> b.id),
s AS (SELECT {O.bsum('kern')} AS s FROM pairs),
p AS MATERIALIZED (
  SELECT pairs.i, pairs.j, pairs.kern / s.s AS p FROM pairs, s),
y0 AS (SELECT id, v[1] AS y1, v[2] AS y2 FROM sub),
{', '.join(steps)}
SELECT id AS {id_col}, y1, y2 FROM y{iters}"""
