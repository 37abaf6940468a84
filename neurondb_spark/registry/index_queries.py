"""Index-layer queries: IVF probe search (SURVEY §2.5 IVF row, §2.11).

``ivf_knn_full_probe`` probes all lists → EXACT, oracle-checked against
brute force (proves the partitioned layout + pruning machinery loses
nothing). ``ivf_knn_probe`` (nprobe=4/16 partial probe) is ALSO under
the hash gate since round 6: it runs over an oracle-replayable
fixed-Lloyd layout with a fixed-point centroid ranking, and its DuckDB
oracle replays training, routing, probe selection AND the pruned top-10
as one SQL CTE chain (see ``_sql_ivf_probe`` below). Recall-vs-nprobe
behavior is additionally asserted in tests/test_index.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neurondb_spark import oracle as O
from neurondb_spark.index import specialized as S
from neurondb_spark.index.hnsw import HNSWIndex
from neurondb_spark.index.ivf import IVFIndex
from neurondb_spark.index.ivfpq import IVFPQIndex
from neurondb_spark.index.lsh import LSHIndex
from neurondb_spark.index.pq import PQCodebook
from neurondb_spark.registry.common import COMPILE_DIM, EMB_DIM, QVEC_CTE, qvec, t
from neurondb_spark.registry.fixtures import fixture

NLISTS = 16


def _opens(cls):
    """Fixture loader for an index class whose ``load`` takes the path."""
    return lambda spark, sf_dir, path: cls.load(path)


def _opens_hnsw(spark: SparkSession, sf_dir: str, path: str) -> HNSWIndex:
    return HNSWIndex.load(path, spark)


@fixture("ivf", load=_opens(IVFIndex))
def _index_for(spark: SparkSession, sf_dir: str, path: str) -> None:
    IVFIndex.build(t(spark, sf_dir, "embeddings"), "embedding", path,
                   nlists=NLISTS, metric="l2", dim=COMPILE_DIM)


def _q_ivf_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index_for(spark, sf_dir)
    q = qvec(spark, sf_dir)
    return idx.search(spark, q, k=10, nprobe=NLISTS, tiebreak=["vec_id"]).select(
        "vec_id", "distance"
    )


def _sql_ivf_full() -> str:
    d = O.sql_l2("e.embedding", "q.qe", EMB_DIM)
    return f"""{QVEC_CTE}
SELECT e.vec_id, {d} AS distance
FROM embeddings e CROSS JOIN q
ORDER BY distance ASC, e.vec_id ASC LIMIT 10"""


@fixture("ivf_dml", load=_opens(IVFIndex))
def _ivf_dml_index_for(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Build on the even half, aminsert the odd half, tombstone
    vec_id % 41 == 0 — IVF's DML lifecycle (append-only list inserts)."""
    emb = t(spark, sf_dir, "embeddings")
    idx = IVFIndex.build(
        emb.where(F.col("vec_id") % 2 == 0), "embedding", path,
        nlists=NLISTS, metric="l2", dim=COMPILE_DIM,
    )
    idx.insert(emb.where(F.col("vec_id") % 2 == 1))
    # DataFrame delete: the ids flow to the tombstone write without
    # a driver round-trip (the r10 bulk-delete path, exercised here
    # so the gate covers it end to end)
    idx.delete(spark, emb.where(F.col("vec_id") % 41 == 0).select("vec_id"))


def _q_ivf_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF DML lifecycle under the hash gate (ivf_am.c aminsert + dead
    tuples): half built, half appended to its nearest list, 1/41 soft
    deleted. Full-probe search must return the exact live top-10 — a row
    appended to the wrong list, lost in the append, or leaking through
    the tombstone anti-join breaks the hash."""
    idx = _ivf_dml_index_for(spark, sf_dir)
    q = qvec(spark, sf_dir)
    return idx.search(spark, q, k=10, nprobe=NLISTS, tiebreak=["vec_id"]).select(
        "vec_id", "distance"
    )


def _sql_ivf_dml() -> str:
    d = O.sql_l2("e.embedding", "q.qe", EMB_DIM)
    return f"""{QVEC_CTE}
SELECT e.vec_id, {d} AS distance
FROM embeddings e CROSS JOIN q
WHERE e.vec_id % 41 <> 0
ORDER BY distance ASC, e.vec_id ASC LIMIT 10"""


_LLOYD_K, _LLOYD_NPROBE = 8, 3


@fixture("ivf_lloyd", load=_opens(IVFIndex))
def _ivf_lloyd_index_for(spark: SparkSession, sf_dir: str, path: str) -> None:
    """IVF with an oracle-exact layout: centroids + assignment from the
    fixed-Lloyd trainer (k=8, 2 rounds — the same machinery
    `kmeans_fixed_lloyd` proved hash-exact), written through the normal
    partitioned layout. Unlike the MLlib-trained `_index_for` index,
    every list membership is SQL-replayable, so a PARTIAL probe is
    deterministic and oracle-checkable."""
    from neurondb_spark.ml.stats import kmeans_lloyd_exact

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assign, cent = kmeans_lloyd_exact(
        emb, "embedding", "vec_id", k=_LLOYD_K, iters=2,
        return_centroids=True,
    )
    centroids = [[0.0] * EMB_DIM for _ in range(_LLOYD_K)]
    for r in cent.collect():
        centroids[r["cluster"]][r["pos"] - 1] = float(r["cval"])
    layout = emb.join(assign, "vec_id").select(
        "vec_id", "embedding", F.col("cluster").alias("cluster_id")
    )
    IVFIndex.from_assignment(layout, "embedding", path, centroids,
                             metric="l2", dim=COMPILE_DIM)


def _probe_clusters_fixed(
    spark: SparkSession, centroids: list[list[float]], q: list[float],
    nprobe: int,
) -> list[int]:
    """Rank centroids by fixed-point (bsum) squared L2 to the query, ties
    to the lower cluster — the identical grid the oracle replays, computed
    DRIVER-SIDE with exact bsum semantics (r9 perf watch: the old Spark
    job — createDataFrame + join + groupBy + collect over 8×64 values —
    cost ~1s of pure scheduler overhead per probe, 3-4× the pruned scan
    itself; routing math on a KB-sized centroid table belongs on the
    driver, exactly like IVFIndex._nearest_clusters).

    Parity contract with ``bsum`` (functions/aggregates.py): each
    squared-diff double and its ×2^40 scaling are the same IEEE ops in
    Python and the JVM; Spark's ``F.round(x, 0)`` on a double is
    ``BigDecimal.valueOf(x).setScale(0, HALF_UP)``, i.e. HALF_UP on
    Java's ``Double.toString`` decimal repr. Replicated here by HALF_UP
    on the EXACT binary value (``Decimal(s)`` — exact, no repr), which
    is repr-independent (r10 ADVICE #2: pre-JDK-19 ``Double.toString``
    can emit non-shortest digits, JDK-4511638, so matching Python's
    ``repr`` was not guaranteed): the only way two decimal
    representations of the same double can HALF_UP-round differently at
    scale 0 is to straddle a ``k+0.5`` boundary — but ``k+0.5`` is
    itself a representable double for ``|k| < 2^51``, so any repr that
    round-trips to ``s`` lies strictly within half an ulp of ``s``, on
    the SAME side of the boundary as the exact value (and when ``s`` IS
    exactly ``k+0.5`` every faithful repr equals it — all round up).
    The integer sum is exact in any order; the final /2^40 is a
    monotonic positive constant, so ranking skips it.
    tests/test_index.py asserts this replica against the Spark bsum
    ranking; the `ivf_knn_probe` hash gate re-verifies end-to-end."""
    from decimal import ROUND_HALF_UP, Decimal

    factor = float(2 ** 40)
    one = Decimal(1)

    def fixed_sq(c: list[float]) -> int:
        tot = 0
        for v, qv in zip(c, q):
            d = float(v) - float(qv)
            s = (d * d) * factor
            tot += int(Decimal(s).quantize(one, rounding=ROUND_HALF_UP))
        return tot

    ranked = sorted(
        range(len(centroids)), key=lambda i: (fixed_sq(centroids[i]), i)
    )
    return ranked[:nprobe]


def _q_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-probe IVF search under the HASH gate (graduated from
    rows-only in round 6): the index layout comes from the oracle-exact
    fixed-Lloyd trainer, the nprobe=3 cluster choice is a fixed-point
    centroid ranking, and the pruned scan's exact top-10 is therefore
    fully deterministic — the oracle replays training, routing, probe
    selection and the final top-k (ivf_am.c probe semantics)."""
    idx = _ivf_lloyd_index_for(spark, sf_dir)
    q = qvec(spark, sf_dir)
    probed = _probe_clusters_fixed(spark, idx.centroids, q, _LLOYD_NPROBE)
    return idx.search(
        spark, q, k=10, probe_clusters=probed, tiebreak=["vec_id"]
    ).select("vec_id", "distance")


@fixture("ivf_rebalanced", load=_opens(IVFIndex))
def _ivf_rebalanced_for(spark: SparkSession, sf_dir: str, path: str) -> None:
    """A deliberately skewed 2-list layout (cluster = vec_id % 2, so both
    lists hold half the corpus), then REBALANCED: every oversized list is
    split by the fixed-Lloyd trainer, sub-centroids replace/extend the
    routing list, and the new layout + centroids commit in one swap."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    layout = emb.withColumn("cluster_id", (F.col("vec_id") % 2).cast("int"))
    centroids = [qvec(spark, sf_dir, 1), qvec(spark, sf_dir, 2)]
    IVFIndex.from_assignment(
        layout, "embedding", path, centroids, metric="l2", dim=COMPILE_DIM,
    ).rebalance(spark, max_list_size=150)


def _q_ivf_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF list rebalancing under the hash gate (rebalance_index,
    src/util/data_management.c:38-686): a skewed layout is split into
    sub-lists, and the FULL-probe top-10 over the rebalanced index must
    still equal brute force — any row lost, duplicated, or mis-routed by
    the split/swap breaks the hash. Partial-probe behavior and the
    atomic centroid commit are pytest-covered (tests/test_ivf_dml.py)."""
    idx = _ivf_rebalanced_for(spark, sf_dir)
    q = qvec(spark, sf_dir)
    return idx.search(
        spark, q, k=10, nprobe=idx.meta["nlists"], tiebreak=["vec_id"]
    ).select("vec_id", "distance")


def _lloyd_ctes(k: int) -> str:
    """The fixed-Lloyd CTE chain (2 rounds) over the embeddings table —
    the same recipe `_sql_kmeans_fixed` (registry/ml_queries.py) proved
    hash-exact, exposed as composable CTEs: defines ex, init, c0,
    d1/a1/c1, d2/a2. a2 = assignment against c1 (what the engine's
    kmeans_lloyd_exact returns); c1 = the centroid set a2 probed."""
    dist = O.bsum("(ex.val - c.cval) * (ex.val - c.cval)")
    parts = [f"""ex AS MATERIALIZED (
  SELECT vec_id,
         CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings),
init AS (
  SELECT vec_id,
         CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})),
c0 AS (
  SELECT i.cluster, e.pos, e.val AS cval
  FROM init i JOIN ex e ON e.vec_id = i.vec_id)"""]
    prev = "c0"
    for it in (1, 2):
        parts.append(f"""d{it} AS (
  SELECT ex.vec_id, c.cluster, {dist} AS dist
  FROM ex JOIN {prev} c ON ex.pos = c.pos
  GROUP BY ex.vec_id, c.cluster),
a{it} AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, cluster ASC) AS rn
    FROM d{it}) WHERE rn = 1)""")
        if it < 2:
            parts.append(f"""c{it} AS (
  SELECT a.cluster, e.pos, {O.davg('e.val')} AS cval
  FROM a{it} a JOIN ex e ON e.vec_id = a.vec_id
  GROUP BY a.cluster, e.pos)""")
        prev = f"c{it}"
    return ",\n".join(parts)


def _sql_ivf_probe() -> str:
    d = O.sql_l2("e.embedding", "q.qe", EMB_DIM)
    pd_ = O.bsum("(c.cval - qp.qval) * (c.cval - qp.qval)")
    return f"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
{_lloyd_ctes(_LLOYD_K)},
qpos AS (
  SELECT CAST(generate_subscripts(qe, 1) AS INTEGER) AS pos,
         CAST(unnest(qe) AS DOUBLE) AS qval
  FROM q),
probe_d AS (
  SELECT c.cluster, {pd_} AS pd
  FROM c1 c JOIN qpos qp ON c.pos = qp.pos
  GROUP BY c.cluster),
probed AS (SELECT cluster FROM probe_d
           ORDER BY pd ASC, cluster ASC LIMIT {_LLOYD_NPROBE})
SELECT e.vec_id, {d} AS distance
FROM embeddings e JOIN a2 ON a2.vec_id = e.vec_id CROSS JOIN q
WHERE a2.cluster IN (SELECT cluster FROM probed)
ORDER BY distance ASC, e.vec_id ASC LIMIT 10"""


_BATCH_KNN_Q, _BATCH_KNN_K = 5, 3


def _q_ivf_batch_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN as a query-routed cluster JOIN — the shape that scales
    a million concurrent queries where per-query partition pruning
    cannot: route EVERY query to its nprobe nearest lists in one plan
    (explode queries → join the tiny centroid table → fixed-point
    ranked top-nprobe per query, no driver round-trip), then join
    (qid, cluster_id) against the partitioned layout so all queries
    share ONE pruned scan, and take per-query exact top-k inside the
    probed candidates. Complements `ann_batch_topk` (the brute-force
    kNN-join baseline) the way `ivf_knn_probe` complements `knn_l2`.
    The fixed-Lloyd layout + bsum routing make the whole thing
    oracle-replayable: training, per-query probe selection, and every
    pruned top-k are hash-checked. 100 TB: probes is |Q|·nprobe rows
    (broadcast), the scan reads only the union of probed lists, and the
    per-query top-k is a window over ≤ |Q|·(corpus·nprobe/nlists)
    candidates — no all-pairs term."""
    from pyspark.sql.window import Window

    from neurondb_spark.functions.aggregates import bsum
    from neurondb_spark.functions.distance import l2_distance

    idx = _ivf_lloyd_index_for(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= _BATCH_KNN_Q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    crows = [
        (ci, p + 1, float(v))
        for ci, c in enumerate(idx.centroids) for p, v in enumerate(c)
    ]
    cdf = spark.createDataFrame(
        crows, schema="cluster int, pos int, cval double"
    )
    qpos = queries.select(
        "qid",
        F.posexplode(F.col("qvec").cast("array<double>")).alias("_p0", "qval"),
    ).select("qid", (F.col("_p0") + 1).cast("int").alias("pos"), "qval")
    pd_ = (
        qpos.join(F.broadcast(cdf), "pos")
        .groupBy("qid", "cluster")
        .agg(bsum((F.col("cval") - F.col("qval"))
                  * (F.col("cval") - F.col("qval"))).alias("pd"))
    )
    wprobe = Window.partitionBy("qid").orderBy(
        F.col("pd").asc(), F.col("cluster").asc()
    )
    probes = (
        pd_.withColumn("_rn", F.row_number().over(wprobe))
        .where(F.col("_rn") <= _LLOYD_NPROBE)
        .select("qid", F.col("cluster").alias("cluster_id"))
    )
    cands = (
        idx._read_data(spark)
        .join(F.broadcast(probes), "cluster_id")
        .join(F.broadcast(queries), "qid")
    )
    d = l2_distance("embedding", "qvec", dim=COMPILE_DIM, checked=False)
    wk = Window.partitionBy("qid").orderBy(
        F.col("distance").asc(), F.col("vec_id").asc()
    )
    return (
        cands.withColumn("distance", d)
        .withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= _BATCH_KNN_K)
        .select("qid", "vec_id", "distance", F.col("rn").cast("int").alias("rn"))
    )


def _sql_ivf_batch_knn() -> str:
    d = O.sql_l2("e.embedding", "q.qe", EMB_DIM)
    pd_ = O.bsum("(c.cval - qp.qval) * (c.cval - qp.qval)")
    return f"""WITH qs AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id <= {_BATCH_KNN_Q}),
{_lloyd_ctes(_LLOYD_K)},
qpos AS (
  SELECT qid, CAST(generate_subscripts(qe, 1) AS INTEGER) AS pos,
         CAST(unnest(qe) AS DOUBLE) AS qval
  FROM qs),
probe_d AS (
  SELECT qp.qid, c.cluster, {pd_} AS pd
  FROM c1 c JOIN qpos qp ON c.pos = qp.pos
  GROUP BY qp.qid, c.cluster),
probes AS (
  SELECT qid, cluster FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY pd ASC, cluster ASC) AS rn
    FROM probe_d) WHERE rn <= {_LLOYD_NPROBE})
SELECT qid, vec_id, distance, CAST(rn AS INTEGER) AS rn FROM (
  SELECT p.qid, e.vec_id, {d} AS distance,
         ROW_NUMBER() OVER (PARTITION BY p.qid
                            ORDER BY {d} ASC, e.vec_id ASC) AS rn
  FROM probes p
  JOIN a2 ON a2.cluster = p.cluster
  JOIN embeddings e ON e.vec_id = a2.vec_id
  JOIN qs q ON q.qid = p.qid)
WHERE rn <= {_BATCH_KNN_K}"""


@fixture("tenant", load=_opens(S.TenantIndex))
def _tenant_index_for(spark: SparkSession, sf_dir: str, path: str) -> None:
    S.TenantIndex.build(t(spark, sf_dir, "embeddings"), "embedding", "label",
                        path, dim=COMPILE_DIM)


def _q_tenant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hnsw_tenant_search (index_hnsw_tenant.c): partition-pruned exact
    kNN inside tenant (=label) 3's files — the oracle proves the tenant
    layout loses no rows vs a filtered brute-force scan."""
    idx = _tenant_index_for(spark, sf_dir)
    q = qvec(spark, sf_dir)
    return idx.search(spark, 3, q, k=10, tiebreak=["vec_id"]).select(
        "vec_id", "distance"
    )


def _sql_tenant() -> str:
    d = O.sql_l2("e.embedding", "q.qe", EMB_DIM)
    return f"""{QVEC_CTE}
SELECT e.vec_id, {d} AS distance
FROM embeddings e CROSS JOIN q
WHERE e.label = 3
ORDER BY distance ASC, e.vec_id ASC LIMIT 10"""


_DAY_US = 86_400_000_000


@fixture("temporal", load=_opens(S.TemporalIndex))
def _temporal_index_for(spark: SparkSession, sf_dir: str, path: str) -> None:
    emb = t(spark, sf_dir, "embeddings").withColumn(
        "insert_ts", F.timestamp_micros(F.col("vec_id") * F.lit(_DAY_US))
    )
    # month buckets: the synthetic ts is one row per day, so day
    # buckets would mean one file per row — bucket granularity must
    # track row density, here ~30 rows/partition
    S.TemporalIndex.build(emb, "embedding", "insert_ts", path,
                          bucket="month", dim=COMPILE_DIM)


def _q_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """temporal_knn_search (index_temporal.c:175-260): cutoff at day 100
    (synthetic insert_ts = epoch + vec_id days), score = -l2 decayed by
    exp(-0.1·age_days). Timestamps are tz-aware instants so the result is
    session-TZ-independent; exp() differs ≤1 ulp across engines → both
    sides round the score to 6 decimals (same rule as events_time_decay)."""
    import datetime as _dt

    idx = _temporal_index_for(spark, sf_dir)
    q = qvec(spark, sf_dir)
    now = _dt.datetime(1970, 4, 11, tzinfo=_dt.timezone.utc)  # day 100
    out = idx.search(spark, q, k=10, hi=now, decay_rate=0.1, now=now,
                     tiebreak=["vec_id"])
    # + 0.0 normalizes IEEE -0.0 (the self-match row) to +0.0 on both engines
    return out.select(
        "vec_id", (F.round(F.col("score"), 6) + F.lit(0.0)).alias("decayed_score")
    )


def _sql_temporal() -> str:
    d = O.sql_l2("e.embedding", "q.qe", EMB_DIM)
    # age_days mirrors the engine chain exactly: every step lands on exact
    # doubles ((now_us - ts_us) / day_us with ts multiples of day_us)
    age = (
        f"((100.0 * {float(_DAY_US)!r}) - (CAST(e.vec_id AS DOUBLE) * "
        f"{float(_DAY_US)!r})) / {float(_DAY_US)!r}"
    )
    return f"""{QVEC_CTE}
SELECT e.vec_id,
       (round((-({d})) * exp(-0.1 * ({age})), 6) + 0.0) AS decayed_score
FROM embeddings e CROSS JOIN q
WHERE e.vec_id <= 100
ORDER BY (-({d})) * exp(-0.1 * ({age})) DESC, e.vec_id ASC LIMIT 10"""


@fixture("consistent", load=lambda spark, sf_dir, path: S.ConsistentIndex(
    path, S._read_meta(path), pinned=1))
def _consistent_index_for(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Build snapshot v1 from embeddings, then append 5 exact copies of
    the query vector (ids 100000+) → v2. The handle is pinned to v1 —
    the replica that opened before the append."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx = S.ConsistentIndex.build(emb, "embedding", "vec_id", path,
                                  dim=COMPILE_DIM)
    q = qvec(spark, sf_dir)
    idx.append(spark.createDataFrame(
        [(100000 + i, [float(x) for x in q]) for i in range(5)],
        schema=emb.schema,
    ))


def _q_consistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """consistent_knn_search at eventual consistency (index_consistent.c):
    the handle is pinned to snapshot v1; v2 contains 5 planted distance-0
    shadow rows that would dominate the top-k — the oracle (brute force
    over the ORIGINAL table) proves the pinned read excludes them, i.e.
    snapshot isolation actually holds."""
    idx = _consistent_index_for(spark, sf_dir)
    q = qvec(spark, sf_dir)
    return idx.search(spark, q, k=10, consistency_level="eventual").select(
        "vec_id", "distance"
    )


def _sql_consistent() -> str:
    d = O.sql_l2("e.embedding", "q.qe", EMB_DIM)
    return f"""{QVEC_CTE}
SELECT e.vec_id, {d} AS distance
FROM embeddings e CROSS JOIN q
ORDER BY distance ASC, e.vec_id ASC LIMIT 10"""


_RERANK_WARM_K = 30


@fixture("rerank", load=lambda spark, sf_dir, path: S.RerankIndex(
    path, _index_for(spark, sf_dir), S._read_meta(path)))
def _rerank_index_for(spark: SparkSession, sf_dir: str, path: str) -> None:
    """RerankIndex over the IVF base at full probe (exact base → the
    candidate set is oracle-expressible); warmed once with the gate query
    itself so the cache covers exactly the top _RERANK_WARM_K."""
    spark.conf.set("spark.neurondb.ivf.nprobe", str(NLISTS))  # exact base
    S.RerankIndex.create(_index_for(spark, sf_dir), path, "vec_id").warm(
        spark, [qvec(spark, sf_dir)], top_k=_RERANK_WARM_K
    )


def _q_rerank_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rerank_get_candidates (index_rerank.c:374-430): fetch_factor·k
    exact candidates left-joined against the warmed score cache —
    cached_score = −distance for the warmed top-30, NULL beyond (the
    partial-cache contract). The oracle rebuilds both tiers from brute
    force."""
    idx = _rerank_index_for(spark, sf_dir)
    spark.conf.set("spark.neurondb.ivf.nprobe", str(NLISTS))
    q = qvec(spark, sf_dir)
    return idx.get_candidates(spark, q, k=5, fetch_factor=10).select(
        "vec_id", "distance", "cached_score"
    )


def _sql_rerank_candidates() -> str:
    d = O.sql_l2("e.embedding", "q.qe", EMB_DIM)
    return f"""{QVEC_CTE},
ranked AS (
  SELECT e.vec_id, {d} AS distance,
         ROW_NUMBER() OVER (ORDER BY {d} ASC, e.vec_id ASC) AS rnk
  FROM embeddings e CROSS JOIN q)
SELECT vec_id, distance,
       CASE WHEN rnk <= {_RERANK_WARM_K} THEN -distance ELSE NULL END AS cached_score
FROM ranked WHERE rnk <= 50"""


@fixture("pq_codebook", load=_opens(PQCodebook))
def _pq_codebook_for(spark: SparkSession, sf_dir: str, path: str) -> None:
    PQCodebook.train_lloyd_exact(
        t(spark, sf_dir, "embeddings"), "embedding", "vec_id", dim=EMB_DIM,
        m=_PQ_M, k=_PQ_K, iters=2,
    ).save(path)


def _q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED-codebook PQ + ADC top-k under the HASH gate (graduated
    from rows-only in round 6): the per-subspace codebook comes from the
    oracle-replayable fixed-Lloyd trainer
    (``PQCodebook.train_lloyd_exact`` — bsum assignments, davg means, 2
    rounds), so the full train→quantize→LUT→ADC pipeline (pq_ops.c) is
    deterministic and the oracle replays every step. The seeded-MLlib
    trainer (``PQCodebook.train``) remains the production path,
    recall-tested in tests/test_pq.py."""
    from neurondb_spark.index.pq import pq_search

    cb = _pq_codebook_for(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    codes = emb.select(
        "vec_id", cb.encode_udf_exact()(F.col("embedding")).alias("codes")
    )
    q = [float(x) for x in qvec(spark, sf_dir)]
    # Project away the `codes` array column: the driver canonicalizer
    # sorts every output column and dies on unhashable list cells
    # (CORRECTNESS_r04 ERROR).
    return pq_search(codes, cb, "codes", q, k=10).select(
        "vec_id", "adc_distance"
    )


_PQ_M, _PQ_K, _PQ_SUB = 8, 16, 8  # subspaces, codewords, dim-per-subspace


def _q_pq_adc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode + ADC top-k with a DETERMINISTIC codebook — the sub-slices
    of the 16 lowest-vec_id embeddings — so the full quantize→LUT→scan
    pipeline (pq_ops.c semantics) is hash-checkable: the oracle re-derives
    the codebook from the table, re-encodes every row (same left-assoc
    sub-distance folds, same lowest-code tie-break as the struct
    array_min), rebuilds the query LUT and replays the ADC sum in subspace
    order. Complements `pq_adc_topk`, which keeps the trained-KMeans
    codebook (approximate → rows-only) and the numpy batch encoder as the
    corpus-scale path."""
    from neurondb_spark.index.pq import pq_search

    emb = t(spark, sf_dir, "embeddings")
    rows = (
        emb.where(F.col("vec_id") <= _PQ_K).orderBy("vec_id")
        .select("embedding").collect()
    )
    books = [
        [[float(x) for x in r[0][mi * _PQ_SUB:(mi + 1) * _PQ_SUB]] for r in rows]
        for mi in range(_PQ_M)
    ]
    cb = PQCodebook(_PQ_M, _PQ_K, EMB_DIM, books)
    q = [float(x) for x in qvec(spark, sf_dir)]
    # encode_udf_exact = the same left-assoc folds as encode_expr, but
    # Arrow-batched (the expression form overflows janino's 64 KB at
    # m·k·sub = 8·16·8 and runs interpreted, ~50× slower)
    codes = emb.select("vec_id", cb.encode_udf_exact()(F.col("embedding")).alias("codes"))
    return pq_search(codes, cb, "codes", q, k=10).select("vec_id", "adc_distance")


def _pq_dist_sql(mi: int, a: str, b: str) -> str:
    """Left-assoc subspace-``mi`` squared distance between 64-wide arrays
    (identical fold order to PQCodebook.encode_udf_exact)."""
    terms = [
        f"(CAST({a}[{mi * _PQ_SUB + j}] AS DOUBLE) - "
        f"CAST({b}[{mi * _PQ_SUB + j}] AS DOUBLE))"
        for j in range(1, _PQ_SUB + 1)
    ]
    return " + ".join(f"{x} * {x}" for x in terms)


def _pq_adc_tail_sql(cw_cte: str) -> str:
    """The encode→LUT→ADC chain over a ``cw(code, cv)`` codeword CTE,
    where cv is a 64-wide array laid out as m concatenated sub-codewords
    (codeword ``code`` of subspace ``mi`` at positions mi·sub+1..mi·sub+sub).
    Struct-MIN encode = lowest distance then lowest code — the
    encode_udf_exact tie-break."""
    dcols = ",\n    ".join(
        f"{_pq_dist_sql(mi, 'e.embedding', 'c.cv')} AS d{mi}"
        for mi in range(_PQ_M)
    )
    encmin = ", ".join(
        f"(MIN({{'d': d{mi}, 'i': code}})).i AS c{mi}" for mi in range(_PQ_M)
    )
    lutcols = ",\n    ".join(
        f"{_pq_dist_sql(mi, 'q.qe', 'c.cv')} AS l{mi}" for mi in range(_PQ_M)
    )
    adds = " + ".join(f"l{mi}.l{mi}" for mi in range(_PQ_M))
    joins = "\n".join(
        f"JOIN lut l{mi} ON l{mi}.code = enc.c{mi}" for mi in range(_PQ_M)
    )
    return f"""{cw_cte},
dd AS (SELECT e.vec_id, c.code,
    {dcols}
  FROM embeddings e CROSS JOIN cw c),
enc AS (SELECT vec_id, {encmin} FROM dd GROUP BY vec_id),
lut AS (SELECT c.code,
    {lutcols}
  FROM cw c CROSS JOIN q)
SELECT enc.vec_id, sqrt({adds}) AS adc_distance
FROM enc
{joins}
ORDER BY adc_distance ASC, enc.vec_id ASC LIMIT 10"""


def _sql_pq_adc_exact() -> str:
    cw = f"""cw AS (SELECT vec_id - 1 AS code, embedding AS cv
       FROM embeddings WHERE vec_id <= {_PQ_K})"""
    return f"{QVEC_CTE},\n{_pq_adc_tail_sql(cw)}"


def _pq_lloyd_ctes() -> str:
    """The per-subspace fixed-Lloyd codebook trainer as SQL CTEs — the
    exact replay of ``PQCodebook.train_lloyd_exact``: one relational
    Lloyd with (mi, spos) = (subspace, position-in-subspace) grouping,
    bsum fixed-point assignment ties-to-lower-code, davg means, empty
    codes carrying the previous centroid. Defines ex2, pinit, pc0,
    pd/pa/pm/pc per round; pc2 = the trained codebook."""
    dist = O.bsum("(e.val - c.cval) * (e.val - c.cval)")
    parts = [f"""ex2 AS MATERIALIZED (
  SELECT vec_id,
         CAST((generate_subscripts(embedding, 1) - 1) // {_PQ_SUB} AS INTEGER) AS mi,
         CAST((generate_subscripts(embedding, 1) - 1) % {_PQ_SUB} + 1 AS INTEGER) AS spos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings),
pinit AS (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {_PQ_K})),
pc0 AS (
  SELECT e.mi, i.code, e.spos, e.val AS cval
  FROM pinit i JOIN ex2 e ON e.vec_id = i.vec_id)"""]
    prev = "pc0"
    for it in (1, 2):
        parts.append(f"""pd{it} AS (
  SELECT e.vec_id, e.mi, c.code, {dist} AS dist
  FROM ex2 e JOIN {prev} c ON e.mi = c.mi AND e.spos = c.spos
  GROUP BY e.vec_id, e.mi, c.code),
pa{it} AS (
  SELECT vec_id, mi, code FROM (
    SELECT vec_id, mi, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, mi
                              ORDER BY dist ASC, code ASC) AS rn
    FROM pd{it}) WHERE rn = 1),
pm{it} AS (
  SELECT a.mi, a.code, e.spos, {O.davg('e.val')} AS cval
  FROM pa{it} a JOIN ex2 e ON e.vec_id = a.vec_id AND e.mi = a.mi
  GROUP BY a.mi, a.code, e.spos),
pc{it} AS (
  SELECT p.mi, p.code, p.spos, COALESCE(m.cval, p.cval) AS cval
  FROM {prev} p LEFT JOIN pm{it} m
    ON m.mi = p.mi AND m.code = p.code AND m.spos = p.spos)""")
        prev = f"pc{it}"
    return ",\n".join(parts)


def _sql_pq_adc() -> str:
    """Replay of the trained-codebook PQ pipeline: Lloyd-train the
    codebook (pc2), reassemble 64-wide codeword arrays (subspace-major,
    the layout `_pq_adc_tail_sql` slices), then the proven
    encode→LUT→ADC chain."""
    cw = """cw AS (
  SELECT code, list(cval ORDER BY mi, spos) AS cv
  FROM pc2 GROUP BY code)"""
    return (
        f"WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),\n"
        f"{_pq_lloyd_ctes()},\n{_pq_adc_tail_sql(cw)}"
    )


@fixture("hnsw", load=_opens_hnsw)
def _hnsw_index_for(spark: SparkSession, sf_dir: str, path: str) -> None:
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    HNSWIndex.build(emb, "embedding", "vec_id", path, dim=EMB_DIM,
                    num_shards=4, m=8, ef_construction=48, seed=7)


def _q_hnsw_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded-HNSW search at exhaustive ef (≥ shard size): the beam
    visits every reachable node, so on a connected graph the result IS
    exact top-k — the oracle proves the graph build + shard merge lose
    nothing (same contract as ivf_knn_full_probe). Realistic-ef recall is
    asserted in tests/test_hnsw.py."""
    from neurondb_spark.functions.distance import l2_distance

    idx = _hnsw_index_for(spark, sf_dir)
    q = qvec(spark, sf_dir)
    n = idx.meta["total_rows"]
    hits = idx.search(spark, q, k=10, ef_search=int(n)).select("vec_id")
    # numpy's pairwise-summation L2 inside the graph search is not
    # bit-identical to the oracle's left-assoc fold — recompute survivors'
    # distances with the engine's exact expression (the vec_join_gemm
    # parity pattern); the candidate SET is what the graph determines
    emb = t(spark, sf_dir, "embeddings")
    return (
        emb.join(hits, "vec_id")
        .select("vec_id",
                l2_distance("embedding", q, dim=COMPILE_DIM,
                            checked=False).alias("distance"))
        .orderBy(F.col("distance").asc(), F.col("vec_id").asc())
    )


def _sql_hnsw_full() -> str:
    d = O.sql_l2("e.embedding", "q.qe", EMB_DIM)
    return f"""{QVEC_CTE}
SELECT e.vec_id, {d} AS distance
FROM embeddings e CROSS JOIN q
ORDER BY distance ASC, e.vec_id ASC LIMIT 10"""


def _q_hnsw_batch_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sharded-HNSW search (HNSWIndex.search_batch): one
    applyInPandas pass answers every query against each shard's graph —
    adjacency reconstruction, the per-task dominant cost, is paid once
    per shard for the WHOLE batch. At exhaustive ef the per-query beam
    visits every reachable node, so each query's result is exact top-k
    and the brute-force-per-query oracle checks the batch plumbing
    end-to-end (merge, per-query ranking, dedup across shards).
    Survivor distances are recomputed with the engine's exact
    expression (`_q_hnsw_full`'s parity pattern — numpy's pairwise sums
    aren't bit-identical to the oracle's fold; the graph determines the
    candidate SET)."""
    from pyspark.sql.window import Window

    from neurondb_spark.functions.distance import l2_distance

    idx = _hnsw_index_for(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= _BATCH_KNN_Q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    n = idx.meta["total_rows"]
    hits = idx.search_batch(
        spark, queries, k=_BATCH_KNN_K, ef_search=int(n)
    ).select("qid", "vec_id")
    w = Window.partitionBy("qid").orderBy(
        F.col("distance").asc(), F.col("vec_id").asc()
    )
    return (
        emb.join(hits, "vec_id")
        .join(F.broadcast(queries), "qid")
        .select(
            "qid", "vec_id",
            l2_distance("embedding", "qvec", dim=COMPILE_DIM, checked=False)
            .alias("distance"),
        )
        .withColumn("rn", F.row_number().over(w))
        .select("qid", "vec_id", "distance", F.col("rn").cast("int").alias("rn"))
    )


def _sql_hnsw_batch_knn() -> str:
    d = O.sql_l2("e.embedding", "q.qe", EMB_DIM)
    return f"""WITH qs AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id <= {_BATCH_KNN_Q})
SELECT qid, vec_id, distance, CAST(rn AS INTEGER) AS rn FROM (
  SELECT q.qid, e.vec_id, {d} AS distance,
         ROW_NUMBER() OVER (PARTITION BY q.qid
                            ORDER BY {d} ASC, e.vec_id ASC) AS rn
  FROM embeddings e CROSS JOIN qs q)
WHERE rn <= {_BATCH_KNN_K}"""


@fixture("hnsw_dml", load=_opens_hnsw)
def _hnsw_dml_index_for(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Build on the even half, ml_hnsw_insert the odd half, tombstone
    vec_id % 37 == 0 — the full index DML lifecycle in one cached index."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx = HNSWIndex.build(
        emb.where(F.col("vec_id") % 2 == 0), "embedding", "vec_id", path,
        dim=EMB_DIM, num_shards=4, m=8, ef_construction=48, seed=7,
    )
    idx.insert(emb.where(F.col("vec_id") % 2 == 1))
    # DataFrame delete: the ids flow to the tombstone write without
    # a driver round-trip (the r10 bulk-delete path, exercised here
    # so the gate covers it end to end)
    idx.delete(spark, emb.where(F.col("vec_id") % 37 == 0).select("vec_id"))


def _q_hnsw_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index DML lifecycle under the hash gate (ml_hnsw_insert +
    dead-tuple tombstones, hnsw_am.c:1546-1650): half the table is built,
    half incrementally inserted, and every vec_id % 37 == 0 row soft
    deleted. Full-ef search must return the exact top-10 over live rows —
    an inserted row missing from the graph, a deleted row leaking through
    the tombstone anti-join, or a corrupted adjacency rewrite all break
    the hash. Distances of the survivors are recomputed with the exact
    fold (candidate SET is what the graph determines — the
    hnsw_knn_full_ef parity pattern)."""
    from neurondb_spark.functions.distance import l2_distance

    idx = _hnsw_dml_index_for(spark, sf_dir)
    q = qvec(spark, sf_dir)
    n = idx.meta["total_rows"]
    hits = idx.search(spark, q, k=10, ef_search=int(n)).select("vec_id")
    emb = t(spark, sf_dir, "embeddings")
    return (
        emb.join(hits, "vec_id")
        .select("vec_id",
                l2_distance("embedding", q, dim=COMPILE_DIM,
                            checked=False).alias("distance"))
        .orderBy(F.col("distance").asc(), F.col("vec_id").asc())
    )


def _sql_hnsw_dml() -> str:
    d = O.sql_l2("e.embedding", "q.qe", EMB_DIM)
    return f"""{QVEC_CTE}
SELECT e.vec_id, {d} AS distance
FROM embeddings e CROSS JOIN q
WHERE e.vec_id % 37 <> 0
ORDER BY distance ASC, e.vec_id ASC LIMIT 10"""


@fixture("ivfpq", load=_opens(IVFPQIndex))
def _ivfpq_index_for(spark: SparkSession, sf_dir: str, path: str) -> None:
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    IVFPQIndex.build(emb, "embedding", "vec_id", path, dim=EMB_DIM,
                     nlists=8, m=8, k=16, seed=42)


def _q_ivfpq_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ at the exact limit: all lists probed and refine covers every
    row, so the ADC stage cannot cut a true neighbor and the exact
    re-rank emits brute-force top-10 — proving the coarse-partitioned
    PQ-coded layout loses nothing (same contract as ivf_knn_full_probe /
    hnsw_knn_full_ef). Pruned-nprobe recall is in tests/test_ivfpq.py."""
    idx = _ivfpq_index_for(spark, sf_dir)
    q = qvec(spark, sf_dir)
    n = idx.meta["total_rows"]
    return idx.search(spark, q, topk=10, nprobe=idx.meta["nlists"],
                      refine=max(1, (n + 9) // 10)).select("vec_id", "distance")


def _sql_ivfpq_full() -> str:
    d = O.sql_l2("e.embedding", "q.qe", EMB_DIM)
    return f"""{QVEC_CTE}
SELECT e.vec_id, {d} AS distance
FROM embeddings e CROSS JOIN q
ORDER BY distance ASC, e.vec_id ASC LIMIT 10"""


@fixture("hybrid", load=_opens(S.HybridIndex))
def _hybrid_index_for(spark: SparkSession, sf_dir: str, path: str) -> None:
    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    df = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "embedding", "text"
    )
    S.HybridIndex.build(df, "embedding", "text", "doc_id", path,
                        dim=COMPILE_DIM)


_HYBRID_QTEXT = "hash join merge sort"


def _q_hybrid_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hybrid_index_search (index_hybrid.c): prebuilt inverted postings +
    vector layout; score = 0.5·(1−l2) + 0.5·Σtf over matched query terms.
    The oracle recomputes the postings from raw text — proving the
    build-time inversion loses no term counts."""
    idx = _hybrid_index_for(spark, sf_dir)
    q = qvec(spark, sf_dir)
    return idx.search(spark, q, _HYBRID_QTEXT, k=12, alpha=0.5).select(
        "doc_id", "score"
    )


def _sql_hybrid_index() -> str:
    from neurondb_spark.functions.text import _py_tokenize, sql_tokenize

    d = O.sql_l2("e.embedding", "q.qe", EMB_DIM)
    qterms = ", ".join(f"'{t}'" for t in dict.fromkeys(_py_tokenize(_HYBRID_QTEXT)))
    tf = (
        f"CAST(length(list_filter({sql_tokenize('doc.text')}, "
        f"x -> x IN ({qterms}))) AS DOUBLE)"
    )
    return f"""{QVEC_CTE}
SELECT doc.doc_id, (0.5 * (1.0 - {d}) + 0.5 * {tf}) AS score
FROM documents doc JOIN embeddings e ON doc.doc_id = e.vec_id CROSS JOIN q
ORDER BY score DESC, doc.doc_id ASC LIMIT 12"""


_LSH_NBITS = 8
_LSH_BATCH_Q, _LSH_BATCH_K = 8, 5


@fixture("lsh", load=_opens(LSHIndex))
def _lsh_index_for(spark: SparkSession, sf_dir: str, path: str) -> None:
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    LSHIndex.build(emb, "embedding", path, dim=EMB_DIM, nbits=_LSH_NBITS,
                   seed=42, metric="cosine")


def _q_lsh_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH at full probe radius (probe_hamming = nbits
    → every one of the 2^nbits buckets probed) is EXACT cosine top-k —
    the oracle proves the bucket-partitioned layout + multi-probe
    expansion lose nothing (the ivf_knn_full_probe contract; reference
    analog: binary/sparse LSH search, src/search/sparse_search.c +
    hnsw_am.c's bucketed fallbacks). Partial-radius recall is asserted
    in tests/test_index.py."""
    idx = _lsh_index_for(spark, sf_dir)
    q = qvec(spark, sf_dir)
    return idx.search(
        spark, q, k=10, probe_hamming=_LSH_NBITS, tiebreak=["vec_id"]
    ).select("vec_id", "distance")


def _sql_lsh_full() -> str:
    d = O.sql_cosine_distance("e.embedding", "q.qe", EMB_DIM)
    return f"""{QVEC_CTE}
SELECT e.vec_id, {d} AS distance
FROM embeddings e CROSS JOIN q
ORDER BY distance ASC, e.vec_id ASC LIMIT 10"""


@fixture("lsh_dml", load=_opens(LSHIndex))
def _lsh_dml_index_for(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Build on the even half, append-insert the odd half, tombstone
    vec_id % 37 == 0 — the LSH DML lifecycle in one cached index."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx = LSHIndex.build(
        emb.where(F.col("vec_id") % 2 == 0), "embedding", path,
        dim=EMB_DIM, nbits=_LSH_NBITS, seed=42, metric="cosine",
    )
    idx.insert(emb.where(F.col("vec_id") % 2 == 1))
    # DataFrame delete (r10 bulk-delete path; no driver round-trip)
    idx.delete(spark, emb.where(F.col("vec_id") % 37 == 0).select("vec_id"))


def _q_lsh_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH DML lifecycle under the hash gate: half built, half appended
    to its hyperplane bucket, 1/37 soft deleted. Full-radius search must
    return the exact live cosine top-10 — a row appended to the wrong
    bucket, lost in the append, or leaking through the tombstone
    anti-join breaks the hash (the ivf_insert_delete_probe contract)."""
    idx = _lsh_dml_index_for(spark, sf_dir)
    q = qvec(spark, sf_dir)
    return idx.search(
        spark, q, k=10, probe_hamming=_LSH_NBITS, tiebreak=["vec_id"]
    ).select("vec_id", "distance")


def _sql_lsh_dml() -> str:
    d = O.sql_cosine_distance("e.embedding", "q.qe", EMB_DIM)
    return f"""{QVEC_CTE}
SELECT e.vec_id, {d} AS distance
FROM embeddings e CROSS JOIN q
WHERE e.vec_id % 37 <> 0
ORDER BY distance ASC, e.vec_id ASC LIMIT 10"""


def _q_lsh_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch LSH search (LSHIndex.search_batch): every query's probe
    buckets become (qid, bucket) pairs broadcast-joined against the
    bucket-partitioned layout — the whole batch shares one pruned scan
    (the IVF batch shape, engine-routed via knn_batch). At full radius
    each query's result is exact cosine top-k, so the brute-force
    per-query oracle checks the probe-pair join, per-query ranking and
    dedup end-to-end."""
    idx = _lsh_index_for(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _LSH_BATCH_Q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return idx.search_batch(
        spark, queries, k=_LSH_BATCH_K, probe_hamming=_LSH_NBITS,
        tiebreak=["vec_id"],
    ).select("qid", "vec_id", "distance")


def _sql_lsh_batch() -> str:
    d = O.sql_cosine_distance("e.embedding", "q.qe", EMB_DIM)
    return f"""WITH qs AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id < {_LSH_BATCH_Q})
SELECT qid, vec_id, distance FROM (
  SELECT q.qid, e.vec_id, {d} AS distance,
         ROW_NUMBER() OVER (PARTITION BY q.qid
                            ORDER BY {d} ASC, e.vec_id ASC) AS rn
  FROM embeddings e CROSS JOIN qs q)
WHERE rn <= {_LSH_BATCH_K}"""


_RECALL_FLOOR = 0.9
_RECALL_Q = 20  # query set: vec_id in [0, 20)
_RECALL_K = 10


def _q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall floor under the gate (r8 verdict #5): recall@10 of the
    approximate paths — sharded HNSW at realistic ef=64 and IVF at the
    reference's default nprobe=10 (of 16 lists — still a partial probe;
    ivf_am.c defaults, BASELINE.md) — against exact batch kNN over a fixed
    20-query set. The full-ef / full-probe gate rows prove the index
    machinery is lossless; THIS row measures what the approximation
    trades away, and RAISES below a 0.9 floor so a future beam/probe
    tweak that silently buys speed with recall turns the gate row red
    (reference analog: the recall-targeting tuner GUCs,
    src/util/neurondb_guc.c:491-543 + worker_tuner.c, and assert_recall,
    neurondb--1.0.sql:4389-4398). Rows-only by design: recall of a graph
    beam is not SQL-expressible. The collect is 2 aggregate rows —
    bounded by construction."""
    from neurondb_spark.operators.knn import knn_batch

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.where(F.col("vec_id") < _RECALL_Q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    # (r15) the exact leg feeds BOTH methods' sequential .head() actions —
    # without a checkpoint the full-scan window ran twice (guide §1.2);
    # lazy is safe here: the first action materializes it fully before
    # the second starts (no concurrent-consumer block race).
    exact = knn_batch(
        emb, "embedding", queries, k=_RECALL_K, tiebreak=["vec_id"]
    ).select("qid", "vec_id").localCheckpoint(eager=False)
    hits = {
        "hnsw_ef64": _hnsw_index_for(spark, sf_dir)
        .search_batch(spark, queries, k=_RECALL_K, ef_search=64)
        .select("qid", "vec_id"),
        "ivf_nprobe10": _index_for(spark, sf_dir)
        .search_batch(spark, queries, k=_RECALL_K, nprobe=10,
                      tiebreak=["vec_id"])
        .select("qid", "vec_id"),
    }
    report = []
    for method, df in hits.items():
        per_q = (
            df.join(exact, ["qid", "vec_id"], "left_semi")
            .groupBy("qid").agg(F.count(F.lit(1)).alias("n_hit"))
            .agg(
                (F.sum("n_hit") / F.lit(_RECALL_Q * _RECALL_K)).alias("avg"),
                (F.min("n_hit") / F.lit(_RECALL_K)).alias("mn"),
                F.count(F.lit(1)).alias("nq"),
            )
            .head()
        )
        avg = float(per_q["avg"]) if per_q["nq"] == _RECALL_Q else 0.0
        mn = float(per_q["mn"]) if per_q["nq"] == _RECALL_Q else 0.0
        if avg < _RECALL_FLOOR:
            raise AssertionError(
                f"neurondb: {method} recall@{_RECALL_K} {avg:.3f} fell "
                f"below the {_RECALL_FLOOR} floor over {_RECALL_Q} queries"
            )
        report.append((method, _RECALL_K, _RECALL_Q,
                       round(avg, 6), round(mn, 6)))
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("method", T.StringType()),
        T.StructField("k", T.IntegerType()),
        T.StructField("n_queries", T.IntegerType()),
        T.StructField("avg_recall", T.DoubleType()),
        T.StructField("min_recall", T.DoubleType()),
    ])
    pdf = pd.DataFrame(
        report, columns=["method", "k", "n_queries", "avg_recall", "min_recall"]
    )
    return spark.createDataFrame(pdf, schema=schema)


_LSH_RECALL_FLOORS = {1: 0.10, 2: 0.25, 3: 0.45}


def _q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH multi-probe recall curve under the gate — the hyperplane
    analog of `ann_recall_report`: recall@10 of bucket-pruned cosine
    search at probe_hamming ∈ {1,2,3} against exact batch kNN over the
    same fixed 20-query set, alongside the probed-bucket fraction.
    Two raises encode the contract: (a) recall must EXCEED the probed
    fraction at every radius — hyperplane routing must beat random
    bucket pruning, the invariant that survives unstructured data —
    and (b) per-radius absolute floors calibrated to the synthetic
    corpus (near-uniform 64-d vectors: cosine neighbors are weakly
    concentrated, so LSH recall is intrinsically modest here; on
    clustered real corpora the same machinery scores far higher).
    Rows-only by design (the multi-probe bucket walk is procedural);
    collects 3 aggregate rows, bounded by construction.  Reference
    analog: the recall-targeting tuner (neurondb_guc.c:491-543,
    worker_tuner.c) and assert_recall (neurondb--1.0.sql:4389-4398)."""
    import itertools
    from math import comb

    from neurondb_spark.functions.distance import distance
    from neurondb_spark.operators.knn import knn_batch

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.where(F.col("vec_id") < _RECALL_Q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = knn_batch(
        emb, "embedding", queries, k=_RECALL_K, metric="cosine",
        tiebreak=["vec_id"],
    ).select("qid", "vec_id")
    idx = _lsh_index_for(spark, sf_dir)
    max_ph = max(_LSH_RECALL_FLOORS)
    # One pruned scan for ALL radii: expand each query's probe set at
    # the LARGEST radius, tag every bucket with its flip distance r,
    # score candidates once, then each radius is a filter + window over
    # the same localCheckpointed frame (the serial per-radius
    # search_batch form re-scanned the layout 3x for nested candidate
    # sets).
    from pyspark.sql import Window as W
    from pyspark.sql import types as T

    qrows = [(int(r["qid"]), [float(x) for x in r["qvec"]])
             for r in queries.collect()]
    probes = []
    for qid, qv in qrows:
        base = idx._query_buckets(qv, 0)[0]
        for r in range(max_ph + 1):
            for flips in itertools.combinations(range(_LSH_NBITS), r):
                m = base
                for f_ in flips:
                    m ^= 1 << f_
                probes.append((qid, int(m), r))
    pschema = T.StructType([
        T.StructField("qid", T.LongType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("r", T.IntegerType()),
    ])
    qschema = T.StructType([
        T.StructField("qid", T.LongType()),
        T.StructField("_qvec", T.ArrayType(T.DoubleType())),
    ])
    pdf_probe = spark.createDataFrame(probes, schema=pschema)
    qdf = spark.createDataFrame(qrows, schema=qschema)
    d = distance("embedding", "_qvec", "cosine", dim=EMB_DIM,
                 checked=False)
    # (r16, reverting the r15 single-window rewrite) per-radius
    # filter + row_number()<=K legs: the rank filter qualifies for
    # map-side WindowGroupLimit pruning (plan proof:
    # plans/r16/lsh_recall_window_perradius_before.txt shows
    # Partial+Final WindowGroupLimit(row_number, 10) on every leg,
    # while the r15 running-conditional-sum form —
    # ..._runwindow_before.txt — has NONE on the candidate window), so
    # each of the three exchanges carries only ~K rows per qid per map
    # partition. The r15 form's ONE exchange carries the ENTIRE
    # candidate frame — strictly more shuffle bytes at any scale where
    # candidates ≫ 3·K·maps, i.e. everywhere that matters (the same
    # WindowGroupLimit argument that rejected the matryoshka rewrite).
    # Checkpoint is EAGER: three legs consume it concurrently, and the
    # lazy form under concurrent consumers was measured 3-8x worse in
    # r15 (block materialization races).
    cand = (
        idx._read_data(spark, buckets=sorted({b for _, b, _ in probes}))
        .join(F.broadcast(pdf_probe), "bucket")
        .join(F.broadcast(qdf), "qid")
        .select("qid", "vec_id", "r", d.alias("_dist"))
        .localCheckpoint()
    )
    phs = sorted(_LSH_RECALL_FLOORS)
    wqd = W.partitionBy("qid").orderBy(
        F.col("_dist").asc(), F.col("vec_id").asc()
    )
    from functools import reduce

    legs = [
        cand.where(F.col("r") <= ph)
        .withColumn("_rn", F.row_number().over(wqd))
        .where(F.col("_rn") <= _RECALL_K)
        .select("qid", "vec_id", F.lit(ph).alias("_ph"))
        for ph in phs
    ]
    agg_row = (
        reduce(lambda a, b: a.union(b), legs)
        .join(exact, ["qid", "vec_id"], "left_semi")
        .agg(*[
            F.sum(F.when(F.col("_ph") == ph, 1).otherwise(0))
            .alias(f"_n{ph}")
            for ph in phs
        ])
        .collect()[0]
    )
    n_by_ph = {ph: int(agg_row[f"_n{ph}"] or 0) for ph in phs}
    n_buckets = 2 ** _LSH_NBITS
    report = []
    for ph, floor in sorted(_LSH_RECALL_FLOORS.items()):
        probed = sum(comb(_LSH_NBITS, r) for r in range(ph + 1))
        frac = probed / n_buckets
        recall = n_by_ph.get(ph, 0) / float(_RECALL_Q * _RECALL_K)
        if recall <= frac:
            raise AssertionError(
                f"neurondb: lsh probe_hamming={ph} recall@{_RECALL_K} "
                f"{recall:.3f} does not beat the probed-bucket fraction "
                f"{frac:.3f} — routing is no better than random pruning"
            )
        if recall < floor:
            raise AssertionError(
                f"neurondb: lsh probe_hamming={ph} recall@{_RECALL_K} "
                f"{recall:.3f} fell below the {floor} floor"
            )
        report.append((ph, probed, round(frac, 6), round(recall, 6)))
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("probe_hamming", T.IntegerType()),
        T.StructField("buckets_probed", T.IntegerType()),
        T.StructField("bucket_frac", T.DoubleType()),
        T.StructField("avg_recall", T.DoubleType()),
    ])
    pdf = pd.DataFrame(
        report,
        columns=["probe_hamming", "buckets_probed", "bucket_frac",
                 "avg_recall"],
    )
    return spark.createDataFrame(pdf, schema=schema)


_LSH_CL_C = 5            # planted clusters
_LSH_CL_SEED = 1234      # center directions
_LSH_CL_CAP = 10_000     # corpus bound (cluster sizes stay >> k)
_LSH_CL_NOISE = 0.5      # per-dim jitter amplitude around a norm-10 center
_LSH_CL_FLOOR = 0.8      # recall@10 at probe_hamming=2


def planted_cluster_frame(
    spark: SparkSession, sf_dir: str, seed: int = _LSH_CL_SEED,
) -> DataFrame:
    """Deterministic planted-cluster corpus: vec_id → cluster
    ``vec_id % C``; vector = that cluster's fixed norm-10 center plus a
    small integer-hash jitter (pure Column arithmetic — no UDF, no
    randomness at plan time, bit-identical across runs and engines).
    Clusters are random 64-d directions, i.e. near-orthogonal (~90°
    apart), while intra-cluster spread is a few degrees — the geometry
    where hyperplane LSH MUST score high recall, unlike the near-uniform
    synthetic embeddings the absolute floors in `lsh_recall_report` are
    calibrated to."""
    import math
    import random

    rng = random.Random(seed)
    centers = [
        [rng.gauss(0.0, 1.0) for _ in range(EMB_DIM)]
        for _ in range(_LSH_CL_C)
    ]
    centers = [
        [10.0 * x / math.sqrt(sum(v * v for v in c)) for x in c]
        for c in centers
    ]
    ids = (
        t(spark, sf_dir, "embeddings")
        .select(F.col("vec_id").cast("long").alias("vec_id"))
        .where(F.col("vec_id") < _LSH_CL_CAP)
    )
    c = (F.col("vec_id") % _LSH_CL_C).cast("int")
    dims = []
    for j in range(EMB_DIM):
        center_j = F.element_at(
            F.array(*[F.lit(float(centers[k][j])) for k in range(_LSH_CL_C)]),
            c + 1,
        )
        # integer-hash jitter in [-noise/2, noise/2): cheap, codegen'd,
        # prime modulus so it can't alias with the % C cluster labels
        h = F.pmod(
            F.col("vec_id") * F.lit(1103515245) + F.lit(j * 12345),
            F.lit(997),
        ).cast("double")
        noise = (h / F.lit(997.0) - F.lit(0.5)) * F.lit(_LSH_CL_NOISE)
        dims.append(center_j + noise)
    return ids.select(
        "vec_id", F.array(*dims).cast("array<double>").alias("embedding")
    )


@fixture("lsh_clustered", load=_opens(LSHIndex))
def _lsh_clustered_index_for(spark: SparkSession, sf_dir: str,
                             path: str) -> None:
    LSHIndex.build(planted_cluster_frame(spark, sf_dir), "embedding", path,
                   dim=EMB_DIM, nbits=_LSH_NBITS, seed=42, metric="cosine")


def _q_lsh_recall_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered-corpus LSH recall gate (r9 verdict #4): on the planted
    near-orthogonal clusters, bucket-pruned cosine search at
    probe_hamming=2 must reach recall@10 ≥ 0.8 against exact batch kNN
    over the same corpus — a floor tight enough that a broken hyperplane
    signature (e.g. a sign flip between build and probe; pytest
    tests/test_index.py asserts exactly that failure mode) turns this
    row red, which the loose uniform-corpus floors in
    `lsh_recall_report` cannot. Rows-only by design (the multi-probe
    bucket walk is procedural); the one collect is a single aggregate
    row. Reference analog: assert_recall + the recall-targeting tuner
    (neurondb--1.0.sql:4389-4398, neurondb_guc.c:491-543)."""
    from neurondb_spark.operators.knn import knn_batch

    idx = _lsh_clustered_index_for(spark, sf_dir)
    # the planted corpus is persisted INSIDE the index layout at build
    # time — read it back instead of re-deriving the 64-dim generator
    # expression per run (whose janino compile dominated the query)
    planted = idx._read_data(spark).select("vec_id", "embedding")
    queries = planted.where(F.col("vec_id") < _RECALL_Q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = knn_batch(
        planted, "embedding", queries, k=_RECALL_K, metric="cosine",
        tiebreak=["vec_id"],
    ).select("qid", "vec_id")
    hits = idx.search_batch(
        spark, queries, k=_RECALL_K, probe_hamming=2, tiebreak=["vec_id"]
    ).select("qid", "vec_id")
    n_hit = hits.join(exact, ["qid", "vec_id"], "left_semi").count()
    recall = n_hit / float(_RECALL_Q * _RECALL_K)
    if recall < _LSH_CL_FLOOR:
        raise AssertionError(
            f"neurondb: clustered-corpus lsh recall@{_RECALL_K} "
            f"{recall:.3f} fell below the {_LSH_CL_FLOOR} floor at "
            f"probe_hamming=2 ({_LSH_CL_C} planted clusters)"
        )
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("n_clusters", T.IntegerType()),
        T.StructField("probe_hamming", T.IntegerType()),
        T.StructField("k", T.IntegerType()),
        T.StructField("n_queries", T.IntegerType()),
        T.StructField("avg_recall", T.DoubleType()),
    ])
    pdf = pd.DataFrame(
        [(_LSH_CL_C, 2, _RECALL_K, _RECALL_Q, round(recall, 6))],
        columns=["n_clusters", "probe_hamming", "k", "n_queries",
                 "avg_recall"],
    )
    return spark.createDataFrame(pdf, schema=schema)


QUERIES = {
    "ivf_knn_full_probe": (_q_ivf_full, _sql_ivf_full()),
    "ivf_insert_delete_probe": (_q_ivf_dml, _sql_ivf_dml()),
    "ivf_rebalance_probe": (_q_ivf_rebalance, _sql_ivf_full()),
    "ivf_knn_probe": (_q_ivf_probe, _sql_ivf_probe()),
    "ivf_batch_knn": (_q_ivf_batch_knn, _sql_ivf_batch_knn()),
    "hnsw_batch_knn": (_q_hnsw_batch_knn, _sql_hnsw_batch_knn()),
    "tenant_knn_search": (_q_tenant, _sql_tenant()),
    "temporal_knn_decay": (_q_temporal, _sql_temporal()),
    "hybrid_index_search": (_q_hybrid_index, _sql_hybrid_index()),
    "consistent_snapshot_knn": (_q_consistent, _sql_consistent()),
    "rerank_candidates": (_q_rerank_candidates, _sql_rerank_candidates()),
    "pq_adc_topk": (_q_pq_adc, _sql_pq_adc()),
    "pq_adc_exact_codebook": (_q_pq_adc_exact, _sql_pq_adc_exact()),
    "hnsw_knn_full_ef": (_q_hnsw_full, _sql_hnsw_full()),
    "hnsw_insert_delete_knn": (_q_hnsw_dml, _sql_hnsw_dml()),
    "ivfpq_knn_exact_limit": (_q_ivfpq_full, _sql_ivfpq_full()),
    "lsh_knn_full_radius": (_q_lsh_full, _sql_lsh_full()),
    "lsh_batch_knn": (_q_lsh_batch, _sql_lsh_batch()),
    "lsh_insert_delete_knn": (_q_lsh_dml, _sql_lsh_dml()),
    # rows-only by design: recall of a graph beam / partial probe is not
    # SQL-expressible; the query itself raises below the 0.9 floor.
    "ann_recall_report": (_q_ann_recall, None),
    # rows-only by design: the multi-probe bucket walk is procedural;
    # the query raises if recall does not beat random pruning.
    "lsh_recall_report": (_q_lsh_recall, None),
    # rows-only by design: planted-cluster recall gate with a tight 0.8
    # floor — red on any routing/signature regression (see docstring).
    "lsh_recall_clustered": (_q_lsh_recall_clustered, None),
}
