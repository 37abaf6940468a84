"""Quantization + graph queries (SURVEY §2.9-2.10)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neurondb_spark import oracle as O
from neurondb_spark.functions.quantization import (
    FP8_FORMATS,
    binary_hamming,
    fp8_roundtrip_error,
    int4_roundtrip_error,
    int4_scale,
    int8_roundtrip_error,
    int8_scale,
    vector_to_ternary,
    vector_to_uint8,
)
from neurondb_spark.operators.graph import bfs, pagerank
from neurondb_spark.registry.common import EMB_DIM, QVEC_CTE, qvec, t


def _q_int8_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        int8_scale("embedding").alias("int8_scale"),
        int8_roundtrip_error("embedding").alias("mean_abs_err"),
    )


def _sql_int8_analysis() -> str:
    absmax = ", ".join(f"abs({O.elem('embedding', i)})" for i in range(1, EMB_DIM + 1))
    scale = f"(CASE WHEN greatest({absmax}) = 0.0 THEN 1.0 ELSE 127.0 / greatest({absmax}) END)"
    errs = []
    for i in range(1, EMB_DIM + 1):
        e = O.elem("embedding", i)
        q = f"CAST(trunc(least(greatest(({e}) * s, -127.0), 127.0)) AS INTEGER)"
        errs.append(f"abs(({e}) - (CAST({q} AS DOUBLE) / s))")
    return f"""WITH sc AS (SELECT vec_id, embedding, {scale} AS s FROM embeddings)
SELECT vec_id, s AS int8_scale,
       ({' + '.join(errs)}) / {float(EMB_DIM)!r} AS mean_abs_err
FROM sc"""


def _q_int4_fp8_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantize_analyze over the int4 and fp8 (e4m3/e5m2) codecs —
    mirrors the int8 pattern (reference quantization.c:91-1697,
    ml_quantization_fp8.c)."""
    emb = t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        int4_scale("embedding").alias("int4_scale"),
        int4_roundtrip_error("embedding").alias("int4_err"),
        fp8_roundtrip_error("embedding", "e4m3").alias("fp8_e4m3_err"),
        fp8_roundtrip_error("embedding", "e5m2").alias("fp8_e5m2_err"),
    )


def _sql_fp8_err_expr(fmt: str) -> str:
    """Mean |v − fp8(v)| as a DuckDB list lambda — same truncate-mantissa
    ladder as fp8_round(): floor(|x|/2^(e−man))·2^(e−man) per fp32
    exponent e, 0x7F-decode saturation on overflow, flush-to-+0 under
    2^min_exp (ml_quantization_fp8.c:63-195)."""
    max_exp, min_exp, man, omax = FP8_FORMATS[fmt]
    xa = "abs(CAST(v AS DOUBLE))"
    whens = [f"WHEN {xa} >= {O.dlit(2.0 ** (max_exp + 1))} THEN {O.dlit(omax)}"]
    for e in range(max_exp, min_exp - 1, -1):
        step = O.dlit(2.0 ** (e - man))
        whens.append(
            f"WHEN {xa} >= {O.dlit(2.0 ** e)} THEN floor({xa} / {step}) * {step}"
        )
    q = f"(CASE {' '.join(whens)} ELSE 0.0 END)"
    signed = (
        f"(CASE WHEN {q} = 0.0 THEN 0.0 "
        f"ELSE (CASE WHEN CAST(v AS DOUBLE) < 0 THEN -1.0 ELSE 1.0 END) * {q} END)"
    )
    err = f"abs(CAST(v AS DOUBLE) - {signed})"
    return (
        f"(list_aggregate(list_transform(embedding, v -> {err}), 'sum')"
        f" / {float(EMB_DIM)!r})"
    )


def _sql_int4_fp8_analysis() -> str:
    """int4 oracle mirroring quantize_vector_int4/quantize_analyze_int4
    (quantization.c:1560-1640, 1290-1320): float32 scale and products
    (REAL arithmetic), clamp to [−8, 7], rintf = round-half-to-even
    (emulated: floor(x+0.5), minus one when exactly .5 above an odd
    integer), dequant in float32."""
    absmax = ", ".join(f"abs({O.elem('embedding', i)})" for i in range(1, EMB_DIM + 1))
    scale = (
        f"(CASE WHEN greatest({absmax}) = 0.0 THEN CAST(1.0 AS REAL) "
        f"ELSE CAST(7.0 / greatest({absmax}) AS REAL) END)"
    )
    errs = []
    for i in range(1, EMB_DIM + 1):
        e = O.elem("embedding", i)
        scaled = f"CAST(embedding[{i}] * s AS DOUBLE)"
        r = f"floor(({scaled}) + 0.5)"
        rint = (
            f"(CASE WHEN ({r}) - ({scaled}) = 0.5 "
            f"AND CAST({r} AS BIGINT) % 2 <> 0 THEN ({r}) - 1.0 ELSE {r} END)"
        )
        q = (
            f"(CASE WHEN ({scaled}) > 7.0 THEN 7 "
            f"WHEN ({scaled}) < -8.0 THEN -8 "
            f"ELSE CAST({rint} AS INTEGER) END)"
        )
        deq = f"CAST(CAST(CAST({q} AS DOUBLE) / CAST(s AS DOUBLE) AS REAL) AS DOUBLE)"
        errs.append(f"abs(({e}) - ({deq}))")
    return f"""WITH sc AS (SELECT vec_id, embedding, {scale} AS s FROM embeddings)
SELECT vec_id, CAST(s AS DOUBLE) AS int4_scale,
       ({' + '.join(errs)}) / {float(EMB_DIM)!r} AS int4_err,
       {_sql_fp8_err_expr('e4m3')} AS fp8_e4m3_err,
       {_sql_fp8_err_expr('e5m2')} AS fp8_e5m2_err
FROM sc"""


def _q_uint8_ternary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantize_analyze over the uint8 min-max codec and the ternary
    dead-zone codec (quantization.c:993-1037, ml_quantization fp8/ternary
    family) — integer code stats per vector, so the hash compare is exact
    by construction (no float accumulation at all)."""
    emb = t(spark, sf_dir, "embeddings")
    codes = vector_to_uint8("embedding")
    tern = vector_to_ternary("embedding", 0.33)
    return emb.select(
        "vec_id",
        F.aggregate(codes, F.lit(0), lambda acc, x: acc + x).alias("uint8_code_sum"),
        F.array_max(codes).alias("uint8_code_max"),
        F.size(F.filter(tern, lambda x: x == 1)).alias("tern_pos"),
        F.size(F.filter(tern, lambda x: x == -1)).alias("tern_neg"),
    )


def _sql_uint8_ternary() -> str:
    """uint8: (v−lo)·255/(hi−lo) truncated (DuckDB CAST rounds — must
    trunc()); constant vector → all-zero codes. ternary: dead zone within
    0.33·max|v|. All outputs integers — byte-exact across engines."""
    lo = "CAST(list_aggregate(embedding, 'min') AS DOUBLE)"
    hi = "CAST(list_aggregate(embedding, 'max') AS DOUBLE)"
    code = (
        "CAST(trunc(least(greatest((CAST(v AS DOUBLE) - lo) * s, 0.0), 255.0)) "
        "AS INTEGER)"
    )
    cut = f"(list_aggregate(list_transform(embedding, v -> abs(CAST(v AS DOUBLE))), 'max') * {O.dlit(0.33)})"
    return f"""WITH sc AS (
  SELECT vec_id, embedding, {lo} AS lo, {hi} AS hi,
         255.0 / ({hi} - {lo}) AS s, {cut} AS cut
  FROM embeddings)
SELECT vec_id,
  CASE WHEN hi = lo THEN 0 ELSE CAST(list_aggregate(
    list_transform(embedding, v -> {code}), 'sum') AS INTEGER) END AS uint8_code_sum,
  CASE WHEN hi = lo THEN 0 ELSE CAST(list_aggregate(
    list_transform(embedding, v -> {code}), 'max') AS INTEGER) END AS uint8_code_max,
  CAST(length(list_filter(embedding, v -> CAST(v AS DOUBLE) > cut)) AS INTEGER) AS tern_pos,
  CAST(length(list_filter(embedding, v -> CAST(v AS DOUBLE) < -cut)) AS INTEGER) AS tern_neg
FROM sc"""


def _q_binary_hamming_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    q = qvec(spark, sf_dir)
    qlit = F.array(*[F.lit(float(x)) for x in q])
    return (
        emb.select("vec_id", binary_hamming("embedding", qlit).alias("hamming_bits"))
        .orderBy(F.col("hamming_bits").asc(), F.col("vec_id").asc())
        .limit(15)
    )


def _sql_binary_hamming_knn() -> str:
    terms = []
    for i in range(1, EMB_DIM + 1):
        a = f"(CASE WHEN {O.elem('e.embedding', i)} >= 0.0 THEN 1 ELSE 0 END)"
        b = f"(CASE WHEN {O.elem('q.qe', i)} >= 0.0 THEN 1 ELSE 0 END)"
        terms.append(f"(CASE WHEN {a} <> {b} THEN 1 ELSE 0 END)")
    return f"""{QVEC_CTE}
SELECT e.vec_id, ({' + '.join(terms)}) AS hamming_bits
FROM embeddings e CROSS JOIN q
ORDER BY hamming_bits ASC, e.vec_id ASC LIMIT 15"""


# ---------------------------------------------------------------- graph

def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite part↔supplier graph from lineitem (distinct edges).
    Integer node encoding (part → 2k, supplier → 2k+1) keeps the joins on
    narrow int64 keys — markedly faster than string keys at every scale."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()


_SQL_EDGES = """SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
FROM lineitem"""


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges(spark, sf_dir)
    pr = pagerank(e, iterations=3, damping=0.85, exact=True, dedup_edges=False)
    return pr.select("node", "pr").orderBy(F.col("pr").desc(), F.col("node").asc()).limit(20)


def _sql_pagerank() -> str:
    """3 unrolled PR iterations with decimal-routed contribution sums."""
    contrib_sum = O.bsum("r{P}.pr / o.outdeg")
    it = (
        """r{K} AS (
  SELECT n.node,
         ({teleport} + 0.85 * COALESCE(s.c, 0.0)) AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, """
        + contrib_sum
        + """ AS c
    FROM r{P} JOIN edges e ON r{P}.node = e.src
    JOIN outdeg o ON e.src = o.src
    GROUP BY e.dst) s ON n.node = s.node)"""
    )
    # Python double parity: DuckDB would evaluate the literal expression
    # 1.0 - 0.85 in exact DECIMAL (= 0.15), but Spark computes the Python
    # double 0.15000000000000002 — inline that double with a forced cast.
    tele = f"(CAST('{(1.0 - 0.85)!r}' AS DOUBLE) / (SELECT n FROM nn))"
    body = ",\n".join(it.format(K=k, P=k - 1, teleport=tele) for k in (1, 2, 3))
    return f"""WITH edges AS ({_SQL_EDGES}),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT node, (1.0 / (SELECT n FROM nn)) AS pr FROM nodes),
{body}
SELECT node, pr FROM r3 ORDER BY pr DESC, node ASC LIMIT 20"""


def _q_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges(spark, sf_dir)
    # edges are distinct and bipartite-encoded (even→odd), so the
    # undirected union cannot create duplicates — skip bfs's dedup shuffle
    # broadcast_frontier: single-source depth-2 frontiers are tiny vs the
    # edge table — broadcast joins keep every level from shuffling edges
    return bfs(e, 3, max_depth=2, dedup_edges=False,
               broadcast_frontier=True).select(  # node 3 = supplier 1
        "node", F.col("depth").cast("int").alias("depth")
    )


_SQL_BFS = f"""WITH edges AS ({_SQL_EDGES}),
und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
d0 AS (SELECT CAST(3 AS BIGINT) AS node),
d1 AS (SELECT DISTINCT u.dst AS node FROM und u JOIN d0 ON u.src = d0.node
       WHERE u.dst NOT IN (SELECT node FROM d0)),
d2 AS (SELECT DISTINCT u.dst AS node FROM und u JOIN d1 ON u.src = d1.node
       WHERE u.dst NOT IN (SELECT node FROM d0)
         AND u.dst NOT IN (SELECT node FROM d1))
SELECT node, 0 AS depth FROM d0
UNION ALL SELECT node, 1 FROM d1
UNION ALL SELECT node, 2 FROM d2"""


def _q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components, one union-find pass per edge partition
    with min-label propagation for components that cross partitions
    (vgraph_community/CC analog, vector_graph_ops.c), over a sparsified
    part↔supplier graph (quantity≤1 edges, partkey≤200 — 37 components at
    sf0.01, so the label fixpoint is non-trivial). Output (node, comp) =
    min node id reachable — integers, exact hash."""
    from neurondb_spark.operators.graph import connected_components

    li = t(spark, sf_dir, "lineitem")
    e = (
        li.where((F.col("l_partkey") <= 200) & (F.col("l_quantity") <= 1))
        .select(
            (F.col("l_partkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    return connected_components(e).select("node", "comp")


def _sql_connected_components() -> str:
    """Transitive closure seeded from every node + GROUP BY MIN — equal to
    the min-label fixpoint on an undirected graph. The closure is
    O(Σ component²) rows, so the edge filter keeps components small; the
    Spark side has no such bound (per-iteration join+min scales)."""
    return """WITH RECURSIVE e AS (
  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM lineitem WHERE l_partkey <= 200 AND l_quantity <= 1),
und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
nodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT u.dst, reach.r FROM reach JOIN und u ON u.src = reach.node)
SELECT node, MIN(r) AS comp FROM reach GROUP BY node"""


def _q_dfs_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFS preorder (vgraph_dfs, vector_graph_ops.c:335): ascending-
    neighbor tie-break, bounded collect — the reference's single-value
    semantics — over the partkey heap-tree (p → ⌊p/2⌋ for the distinct
    partkeys ≤ 400 present in lineitem, rooted at 1).

    Oracle-able despite being sequential: greedy (ascending-neighbor)
    DFS visits nodes in lexicographic order of their DFS-tree paths, and
    each node's tree path is the lexicographically smallest simple path
    from the root (brute-verified on 3000 random graphs) — so ranking
    nodes by MIN(path) from a recursive path CTE reproduces the
    preorder. The heap-tree shape keeps this robust at EVERY scale
    factor: depth ≤ ⌈log2 400⌉ = 9 < max_depth (a binding depth limit
    would break the equivalence — depth-limited DFS reachability is not
    bounded-path reachability), and tree paths are unique so the CTE
    enumerates O(nodes) rows, never exponential."""
    from neurondb_spark.operators.graph import dfs

    li = t(spark, sf_dir, "lineitem")
    e = (
        li.where((F.col("l_partkey") <= 400) & (F.col("l_partkey") >= 2))
        .select(
            F.col("l_partkey").alias("src"),
            F.floor(F.col("l_partkey") / 2).cast("long").alias("dst"),
        )
        .distinct()
    )
    order = dfs(e, 1, max_depth=12)
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"pos": range(len(order)),
                      "node": pd.Series(order, dtype="int64")})
    )


def _sql_dfs_order() -> str:
    """Rank nodes by their (unique) root path in the heap-tree — equal to
    greedy DFS preorder; ≤12 hops mirrors the query's max_depth (which
    never binds: tree depth ≤ 9)."""
    return """WITH RECURSIVE e AS (
  SELECT DISTINCT l_partkey AS src,
                  CAST(floor(l_partkey / 2.0) AS BIGINT) AS dst
  FROM lineitem WHERE l_partkey <= 400 AND l_partkey >= 2),
und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
paths(node, path) AS (
  SELECT CAST(1 AS BIGINT), [CAST(1 AS BIGINT)]
  UNION ALL
  SELECT u.dst, list_append(p.path, u.dst)
  FROM paths p JOIN und u ON u.src = p.node
  WHERE NOT list_contains(p.path, u.dst) AND len(p.path) <= 12),
minp AS (SELECT node, MIN(path) AS mp FROM paths GROUP BY node)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY mp) - 1 AS BIGINT) AS pos, node
FROM minp ORDER BY pos"""


def _q_quant_compare_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantize_compare_distances (quantization.c:463-1216 family): per
    row, exact L2 to the query on the raw vector vs on the
    int8-roundtripped vector, plus the absolute distance error — the
    distance-quality half of quantize_analyze under the hash gate.
    Pure codegen'd expressions, one scan, no shuffle."""
    from neurondb_spark.functions.distance import l2_distance
    from neurondb_spark.functions.quantization import (
        int8_dequantize,
        vector_to_int8,
    )
    from neurondb_spark.registry.common import COMPILE_DIM

    q = qvec(spark, sf_dir)
    s = int8_scale("embedding")
    emb = t(spark, sf_dir, "embeddings").withColumn(
        "_rq", int8_dequantize(vector_to_int8("embedding"), s)
    )
    d_raw = l2_distance("embedding", q, dim=COMPILE_DIM, checked=False)
    d_q = l2_distance("_rq", q, dim=COMPILE_DIM, checked=False)
    return emb.select(
        "vec_id",
        d_raw.alias("d_raw"),
        d_q.alias("d_int8"),
        F.abs(d_raw - d_q).alias("dist_err"),
    )


def _sql_quant_compare_distances() -> str:
    absmax = ", ".join(f"abs({O.elem('embedding', i)})"
                       for i in range(1, EMB_DIM + 1))
    scale = (f"(CASE WHEN greatest({absmax}) = 0.0 THEN 1.0 "
             f"ELSE 127.0 / greatest({absmax}) END)")
    deq = ("list_transform(embedding, v -> "
           "CAST(CAST(trunc(least(greatest(CAST(v AS DOUBLE) * s, -127.0), "
           "127.0)) AS INTEGER) AS DOUBLE) / s)")
    d_raw = O.sql_l2("sc.embedding", "q.qe", EMB_DIM)
    d_q = O.sql_l2("sc.rq", "q.qe", EMB_DIM)
    return f"""{QVEC_CTE},
sc AS (
  SELECT vec_id, embedding, {deq} AS rq
  FROM (SELECT vec_id, embedding, {scale} AS s FROM embeddings))
SELECT sc.vec_id AS vec_id,
       {d_raw} AS d_raw,
       {d_q} AS d_int8,
       abs(({d_raw}) - ({d_q})) AS dist_err
FROM sc CROSS JOIN q"""


def _q_index_tuning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index tuning + validation surface as ONE engine query
    (index/tuning.py heuristics: index_recommend_type, ivf_tune,
    lsh_tune, validate_vectors; reference index_tuning.c /
    index_validator.c, neurondb--1.0.sql:2611-2693): table stats →
    recommendation + parameter plan + data-quality counts, all
    expression-level so the oracle replays the whole report."""
    emb = t(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    has_nonfinite = F.exists(
        v.cast("array<double>"),
        lambda x: F.isnan(x) | (F.abs(x) == float("inf")),
    )
    agg = emb.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max(F.size(v)).alias("dim"),
        F.sum(F.when(v.isNull(), 1).otherwise(0)).alias("nulls"),
        F.sum(F.when(v.isNotNull() & (F.size(v) != EMB_DIM), 1)
              .otherwise(0)).alias("dim_mismatch"),
        F.sum(F.when(v.isNotNull() & has_nonfinite, 1)
              .otherwise(0)).alias("non_finite"),
    )
    n = F.col("n_rows")
    nlists = F.greatest(
        F.lit(16).cast("bigint"),
        F.least(F.lit(65536).cast("bigint"), F.floor(F.sqrt(n))),
    )
    frac = 0.02 + 0.3 * F.greatest(F.lit(0.0), F.lit(0.9) - F.lit(0.5))
    nprobe = F.greatest(
        F.lit(1).cast("bigint"),
        F.least(nlists, F.floor(nlists.cast("double") * frac)),
    )
    nbits = F.greatest(
        F.lit(4).cast("bigint"),
        F.least(F.lit(24).cast("bigint"), F.floor(F.col("dim") / 4)),
    )
    return agg.select(
        n.alias("n_rows"),
        F.col("dim").cast("bigint").alias("dim"),
        F.col("nulls").cast("bigint").alias("nulls"),
        F.col("dim_mismatch").cast("bigint").alias("dim_mismatch"),
        F.col("non_finite").cast("bigint").alias("non_finite"),
        F.when(n < 100000, F.lit("exact")).otherwise(F.lit("ivf"))
         .alias("recommended"),
        nlists.alias("ivf_nlists"),
        nprobe.alias("ivf_nprobe"),
        nbits.alias("lsh_nbits"),
        F.lit(2).cast("bigint").alias("lsh_probe_hamming"),
    )


def _sql_index_tuning_report() -> str:
    inf = "CAST('inf' AS DOUBLE)"
    nonfin = (f"len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)) OR "
              f"abs(CAST(x AS DOUBLE)) = {inf})) > 0")
    frac = (f"({O.dlit(0.02)} + {O.dlit(0.3)} * "
            f"greatest({O.dlit(0.0)}, {O.dlit(0.9)} - {O.dlit(0.5)}))")
    return f"""WITH ag AS (
  SELECT COUNT(*) AS n_rows,
         CAST(MAX(len(embedding)) AS BIGINT) AS dim,
         CAST(SUM(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS nulls,
         CAST(SUM(CASE WHEN embedding IS NOT NULL
                        AND len(embedding) <> {EMB_DIM} THEN 1 ELSE 0 END)
              AS BIGINT) AS dim_mismatch,
         CAST(SUM(CASE WHEN embedding IS NOT NULL AND ({nonfin})
                       THEN 1 ELSE 0 END) AS BIGINT) AS non_finite
  FROM embeddings),
h AS (
  SELECT *,
         greatest(CAST(16 AS BIGINT),
                  least(CAST(65536 AS BIGINT),
                        CAST(floor(sqrt(n_rows)) AS BIGINT))) AS ivf_nlists
  FROM ag)
SELECT n_rows, dim, nulls, dim_mismatch, non_finite,
       CASE WHEN n_rows < 100000 THEN 'exact' ELSE 'ivf' END AS recommended,
       ivf_nlists,
       greatest(CAST(1 AS BIGINT),
                least(ivf_nlists,
                      CAST(floor(CAST(ivf_nlists AS DOUBLE) * {frac})
                           AS BIGINT))) AS ivf_nprobe,
       greatest(CAST(4 AS BIGINT),
                least(CAST(24 AS BIGINT),
                      CAST(floor(dim / 4) AS BIGINT))) AS lsh_nbits,
       CAST(2 AS BIGINT) AS lsh_probe_hamming
FROM h"""


QUERIES = {
    "int8_quantize_analysis": (_q_int8_analysis, _sql_int8_analysis()),
    "index_tuning_report": (_q_index_tuning_report,
                            _sql_index_tuning_report()),
    "quantize_int4_fp8": (_q_int4_fp8_analysis, _sql_int4_fp8_analysis()),
    "quantize_uint8_ternary": (_q_uint8_ternary, _sql_uint8_ternary()),
    "quantize_compare_distances": (_q_quant_compare_distances,
                                   _sql_quant_compare_distances()),
    "binary_hamming_knn": (_q_binary_hamming_knn, _sql_binary_hamming_knn()),
    "graph_pagerank": (_q_pagerank, _sql_pagerank()),
    "graph_bfs": (_q_bfs, _SQL_BFS),
    "graph_connected_components": (_q_connected_components, _sql_connected_components()),
    "graph_dfs_order": (_q_dfs_order, _sql_dfs_order()),
}
