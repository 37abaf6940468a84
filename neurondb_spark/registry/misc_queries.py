"""Final breadth queries: centroid routing, batch ANN top-k (kNN join
shape), tokenize/detokenize round-trip, fp16 round-trip, streaming
job-queue drain, streaming exact-dedup and LSH near-dup — ALL under
the hash gate (the fp16 and job-queue rows graduated from rows-only
in rounds 5-6)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from neurondb_spark import oracle as O
from neurondb_spark.functions.text import (
    sql_doc_fingerprint,
    sql_tokenize,
    tokenize,
)
from neurondb_spark.index.ivf import IVFIndex
from neurondb_spark.operators.knn import vec_route
from neurondb_spark.registry.common import COMPILE_DIM, EMB_DIM, qvec, t
from neurondb_spark.registry.fixtures import fixture

N_ROUTE_CENTROIDS = 4
N_BATCH_QUERIES = 5


def _centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    return [qvec(spark, sf_dir, vid) for vid in range(1, N_ROUTE_CENTROIDS + 1)]


def _q_vec_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vec_route (operators.c:1155+): nearest-centroid assignment with
    lowest-index tie-break, centroids inlined as literals."""
    emb = t(spark, sf_dir, "embeddings")
    cents = _centroids(spark, sf_dir)
    out = vec_route(emb, "embedding", cents, metric="l2", dim=COMPILE_DIM)
    return out.groupBy(F.col("route").cast("int").alias("route")).agg(
        F.count(F.lit(1)).alias("n")
    )


def _sql_vec_route() -> str:
    cte = ",\n".join(
        f"q{v} AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {v})"
        for v in range(1, N_ROUTE_CENTROIDS + 1)
    )
    dists = [
        O.sql_l2("e.embedding", f"q{v}.qe", EMB_DIM)
        for v in range(1, N_ROUTE_CENTROIDS + 1)
    ]
    least = "least(" + ", ".join(f"d{i}" for i in range(N_ROUTE_CENTROIDS)) + ")"
    case = "CASE " + " ".join(
        f"WHEN d{i} = {least} THEN {i}" for i in range(N_ROUTE_CENTROIDS)
    ) + " END"
    joins = " ".join(f"CROSS JOIN q{v}" for v in range(1, N_ROUTE_CENTROIDS + 1))
    dcols = ", ".join(f"{d} AS d{i}" for i, d in enumerate(dists))
    return f"""WITH {cte},
d AS (SELECT e.vec_id, {dcols} FROM embeddings e {joins})
SELECT CAST({case} AS INTEGER) AS route, COUNT(*) AS n
FROM d GROUP BY 1"""


def _q_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN baseline: top-3 neighbors for each of 5 query vectors in
    ONE plan — the brute-force kNN-join shape (window top-k per query)."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= N_BATCH_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    from neurondb_spark.functions.distance import l2_distance

    joined = emb.crossJoin(F.broadcast(queries))
    d = l2_distance("embedding", "qvec", dim=COMPILE_DIM, checked=False)
    w = W.partitionBy("qid").orderBy(F.col("distance").asc(), F.col("vec_id").asc())
    return (
        joined.withColumn("distance", d)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("qid", "vec_id", "distance", F.col("rn").cast("int").alias("rn"))
    )


def _sql_ann_batch_topk() -> str:
    d = O.sql_l2("e.embedding", "q.qvec", EMB_DIM)
    return f"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec
           FROM embeddings WHERE vec_id <= {N_BATCH_QUERIES})
SELECT qid, vec_id, distance, CAST(rn AS INTEGER) AS rn FROM (
  SELECT q.qid, e.vec_id, {d} AS distance,
         ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY {d} ASC, e.vec_id ASC) AS rn
  FROM embeddings e CROSS JOIN q)
WHERE rn <= 3"""


def _q_detokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tokenize→detokenize round-trip (neurondb.tokenize/detokenize,
    neurondb--1.0.sql:5411-5469): normalized text + token count."""
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id") <= 200)
    toks = tokenize("text")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_join(toks, " ").alias("detokenized"),
    )


def _sql_detokenize() -> str:
    toks = sql_tokenize("text")
    return f"""SELECT doc_id, CAST(len({toks}) AS INTEGER) AS n_tokens,
  array_to_string({toks}, ' ') AS detokenized
FROM documents WHERE doc_id <= 200"""


def _q_fp16_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """halfvec surface (quantization.c:152-227): IEEE fp16 round-trip max
    error per vector. DuckDB has no half type, but fp16 round-to-nearest-
    even is pure integer/power-of-two arithmetic, so the oracle
    REIMPLEMENTS the codec in SQL (exponent-bucket CASE, exact quantum
    division, manual half-even) and hash-checks numpy's float16 bit for
    bit — verified over random + tie + subnormal inputs."""
    from neurondb_spark.functions.quantization import fp16_roundtrip_udf

    emb = t(spark, sf_dir, "embeddings")
    rt = fp16_roundtrip_udf()(F.col("embedding"))
    err = F.array_max(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            rt.cast("array<double>"),
            lambda a, b: F.abs(a - b),
        )
    )
    return emb.select("vec_id", err.alias("fp16_max_err")).where(
        F.col("fp16_max_err") < 1.0
    )


def _sql_fp16_roundtrip() -> str:
    """fp16 RTNE in portable SQL: q = 2^(e-10) by exponent bucket
    (boundaries are exact doubles), m = a/q exact, half-even via the
    floor parity; subnormals use the fixed quantum 2^-24 and >=65520
    overflows to inf (the exact half-even boundary past 65504)."""
    qcase = " ".join(
        f"WHEN a >= {2.0**e!r} THEN {2.0**(e - 10)!r}"
        for e in range(15, -15, -1)
    )
    return f"""WITH ex AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
p1 AS (SELECT vec_id, x, abs(x) AS a FROM ex),
p2 AS (SELECT vec_id, x, a, (CASE {qcase} ELSE {2.0 ** -24!r} END) AS q
       FROM p1),
p3 AS (SELECT vec_id, x, a, q, floor(a / q) AS f, a / q - floor(a / q) AS d
       FROM p2),
p4 AS (SELECT vec_id, x,
  (CASE WHEN x = 0 THEN 0.0
        WHEN a >= 65520 THEN (CASE WHEN x > 0 THEN 'inf'::DOUBLE
                                   ELSE '-inf'::DOUBLE END)
        ELSE (CASE WHEN x > 0 THEN 1.0 ELSE -1.0 END)
             * (CASE WHEN d > 0.5 THEN f + 1
                     WHEN d < 0.5 THEN f
                     ELSE f + CAST(CAST(f AS BIGINT) % 2 AS DOUBLE) END)
             * q END) AS rt
  FROM p3)
SELECT vec_id, MAX(abs(x - rt)) AS fp16_max_err
FROM p4 GROUP BY vec_id HAVING MAX(abs(x - rt)) < 1.0"""


_CDC_DEAD_MOD = 43
_CDC_NLISTS = 4


def _cdc_ops_schema(emb: DataFrame):
    from pyspark.sql import types as T

    emb_type = {f.name: f.dataType for f in emb.schema.fields}["embedding"]
    return T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", emb_type),
        T.StructField("op", T.StringType()),
    ])


@fixture("ivf_cdc", load=lambda spark, sf_dir, path: IVFIndex.load(
    os.path.join(path, "idx")))
def _ivf_cdc_index_for(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Write the CDC ops under ``ops/``, build the index on the even
    vec_ids under ``idx/`` and drain the ops into it (see
    `_q_stream_ivf_cdc`)."""
    import glob
    import shutil

    from neurondb_spark.streaming import stream_or_batch
    from neurondb_spark.streaming.index_ingest import (
        index_cdc_batch,
        index_cdc_drain,
    )

    idx_path, src, work = (os.path.join(path, d) for d in ("idx", "ops", "work"))
    emb = t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    schema = _cdc_ops_schema(emb)
    emb_type = {f.name: f.dataType for f in emb.schema.fields}["embedding"]
    ins = emb.where(F.col("vec_id") % 2 == 1).withColumn("op", F.lit("i"))
    dels = emb.where(F.col("vec_id") % _CDC_DEAD_MOD == 0).select(
        "vec_id",
        F.lit(None).cast(emb_type).alias("embedding"),
        F.lit("d").alias("op"),
    )
    ins.select("vec_id", "embedding", "op").unionByName(dels).repartition(
        3
    ).write.parquet(src)

    def _build() -> IVFIndex:
        return IVFIndex.build(
            emb.where(F.col("vec_id") % 2 == 0), "embedding", idx_path,
            nlists=_CDC_NLISTS, metric="l2", dim=COMPILE_DIM,
        )

    def _drain() -> bool:
        index_cdc_drain(spark, src, schema, _build(), work)
        return bool(glob.glob(
            os.path.join(idx_path, "ingest_journal", "batch_*.json")
        ))

    def _rebuild_batch() -> None:
        for p in (idx_path, work):
            shutil.rmtree(p, ignore_errors=True)
        index_cdc_batch(spark, src, schema, _build())

    stream_or_batch("stream_ivf_cdc_knn", _drain, _rebuild_batch)


def _q_stream_ivf_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC ingestion into an IVF index under the hash gate
    (vector_wal.c replay + ivf_am.c aminsert as a Structured Streaming
    drain, streaming/index_ingest.py): the index is built on the even
    vec_ids; the odd half arrives as op='i' rows and every
    vec_id % 43 == 0 as op='d' rows, shuffled across 3 source files so
    micro-batch composition varies; foreachBatch applies each batch
    through the index's own journaled DML (intent/undo exactly-once on
    the append-only layout). Full-probe search must then return the
    exact live top-10 — a row routed to the wrong list, double-applied
    on replay, lost in the drain, or leaking through the tombstone
    anti-join breaks the hash. Deletes are order-independent tombstones,
    so a 'd' arriving before its 'i' still wins. Same infra-only batch
    fallback contract as the other stream rows (strict mode raises);
    the twin REBUILDS from scratch first — batch-applying ops over a
    partially drained append-only index would duplicate rows. The drain
    is the fixture's build, so it runs once per input set and a crash
    mid-drain leaves no ``.complete`` marker to load."""
    idx = _ivf_cdc_index_for(spark, sf_dir)
    q = qvec(spark, sf_dir)
    return idx.search(
        spark, q, k=10, nprobe=_CDC_NLISTS, tiebreak=["vec_id"]
    ).select("vec_id", "distance")


def _sql_stream_ivf_cdc() -> str:
    from neurondb_spark.registry.common import QVEC_CTE

    d = O.sql_l2("e.embedding", "q.qe", EMB_DIM)
    return f"""{QVEC_CTE}
SELECT e.vec_id, {d} AS distance
FROM embeddings e CROSS JOIN q
WHERE e.vec_id % {_CDC_DEAD_MOD} <> 0
ORDER BY distance ASC, e.vec_id ASC LIMIT 10"""


@fixture("stream_dedup_src")
def _sdedup_src(spark: SparkSession, sf_dir: str, path: str) -> None:
    base = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    # Plant REAL duplicates (the raw corpus has none): re-inject the
    # doc_id<=50 texts under shifted ids — min(id) must pick the
    # original and dup_count must say 2 for exactly those fingerprints.
    base.unionAll(
        base.where(F.col("doc_id") <= 50)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    ).coalesce(2).write.parquet(path)


def _q_stream_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact-dedup as a Structured Streaming aggregation
    (streaming/dedup.py): drain the documents corpus through a
    fingerprint-keyed streaming groupBy (AvailableNow, complete-mode
    memory sink) — min(id)/count are order-independent, so the drained
    state table must hash-equal the batch/oracle dedup no matter how the
    micro-batches arrive. Same infra-only batch fallback contract as the
    other stream rows (streaming.stream_or_batch)."""
    from pyspark.sql import types as T

    from neurondb_spark.streaming import memory_drain, stream_or_batch
    from neurondb_spark.streaming.dedup import dedup_batch, dedup_stream

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    src = _sdedup_src(spark, sf_dir)
    out = stream_or_batch(
        "stream_exact_dedup",
        lambda: memory_drain(
            dedup_stream(spark, src, schema, "text", "doc_id"),
            f"neurondb_sdedup_gate_{os.path.basename(src)[:16]}", "complete",
        ),
        lambda: dedup_batch(
            spark.read.schema(schema).parquet(src), "text", "doc_id"
        ),
    )
    return out.select("fingerprint", "doc_id", "dup_count")


def _sql_stream_exact_dedup() -> str:
    fp = sql_doc_fingerprint("text")
    return f"""WITH corpus AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
  UNION ALL
  SELECT CAST(doc_id AS BIGINT) + 1000000, text FROM documents
  WHERE doc_id <= 50)
SELECT {fp} AS fingerprint, MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
FROM corpus GROUP BY 1"""


@fixture("stream_lsh_root")
def _slsh_root(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The drain's source docs under ``src/``; its membership and pair
    tables accumulate under ``work/``."""
    # 3 files → several micro-batch arrival orders across runs
    t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).repartition(3).write.parquet(os.path.join(path, "src"))


def _q_stream_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH near-dup via the foreachBatch drain
    (streaming/dedup.lsh_pairs_drain): each micro-batch's band rows JVM-
    join against the persistent membership table (new×old) plus a
    within-batch self-join (new×new) — the incrementally-refreshed
    signature-table shape. The DISTINCT drained pair set must hash-equal
    the batch `minhash_lsh_pairs` (and its existing DuckDB oracle) no
    matter how micro-batches arrive. The GroupState variant
    (lsh_pairs_stream) carries the same semantics and is
    equality-checked in tests/test_corpus_ops.py; it pays a per-bucket
    python round-trip, so the drain is the gate/bench path. Same
    infra-only batch fallback contract as the other stream rows."""
    from pyspark.sql import types as T

    from neurondb_spark.streaming import stream_or_batch
    from neurondb_spark.streaming.dedup import lsh_pairs_batch, lsh_pairs_drain

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    root = _slsh_root(spark, sf_dir)
    src = os.path.join(root, "src")

    def _drain() -> DataFrame | None:
        out = lsh_pairs_drain(
            spark, src, schema, "text", "doc_id",
            work_dir=os.path.join(root, "work"),
        )
        return out if out.head(1) else None

    out = stream_or_batch(
        "stream_lsh_neardup", _drain,
        lambda: lsh_pairs_batch(
            spark.read.schema(schema).parquet(src), "text", "doc_id"
        ),
    )
    return out.select("id_a", "id_b")


def _sql_stream_lsh_neardup() -> str:
    from neurondb_spark.registry.text_pipeline import _sql_minhash_lsh_pairs

    return _sql_minhash_lsh_pairs()


def _q_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction under the VALUE gate (data_management.py:
    compact — read → coalesce → rewrite → verified backup-keeping swap;
    vacuum/compact family, §2.11): write a lineitem slice as 16 small
    files, compact to 2, read the swapped-in result back and aggregate.
    The oracle computes the same aggregates from the ORIGINAL table, so
    any row lost, duplicated, or corrupted by the rewrite/swap breaks the
    hash — content preservation, not just file-count, is what's checked
    (file-count and crash-swap mechanics are pytest-covered)."""
    from neurondb_spark.data_management import compact
    from neurondb_spark.functions.aggregates import dsum

    li = t(spark, sf_dir, "lineitem").where(F.col("l_partkey") <= 500)
    base = os.path.join(tempfile.mkdtemp(prefix="neurondb_compact_"), "t")
    li.repartition(16).write.mode("overwrite").parquet(base)
    compact(spark, base, target_partitions=2)
    back = spark.read.parquet(base)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_extendedprice").alias("sum_price"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


def _sql_compact_roundtrip() -> str:
    return f"""SELECT l_returnflag, COUNT(*) AS n_rows,
  {O.dsum('l_extendedprice')} AS sum_price,
  COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem WHERE l_partkey <= 500 GROUP BY l_returnflag"""


def _fp16_qcase(a: str) -> str:
    """fp16 quantum by exponent bucket (shared with _sql_fp16_roundtrip):
    q = 2^(e-10); bucket boundaries are exact doubles."""
    return " ".join(
        f"WHEN {a} >= {2.0**e!r} THEN {2.0**(e - 10)!r}"
        for e in range(15, -15, -1)
    )


def _fp16_rt(x: str, a: str, q: str, f: str, d: str) -> str:
    """Round-to-nearest-even reconstruction given precomputed |x|, quantum,
    floor multiple and fractional part (quantization.c:152-227 semantics)."""
    return (
        f"(CASE WHEN {x} = 0 THEN 0.0 "
        f"WHEN {a} >= 65520 THEN (CASE WHEN {x} > 0 THEN 'inf'::DOUBLE "
        f"ELSE '-inf'::DOUBLE END) "
        f"ELSE (CASE WHEN {x} > 0 THEN 1.0 ELSE -1.0 END) * "
        f"(CASE WHEN {d} > 0.5 THEN {f} + 1 WHEN {d} < 0.5 THEN {f} "
        f"ELSE {f} + CAST(CAST({f} AS BIGINT) % 2 AS DOUBLE) END) * {q} END)"
    )


def _q_halfvec_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """halfvec kNN (quantization.c:152-227 + vector.c distance ops): both
    sides quantized to IEEE fp16, then exact-L2 top-10 over the decoded
    values. fp16-decoded doubles are exact, so the fold order (left-assoc,
    matching the oracle's ordered list_reduce) makes the distance
    bit-reproducible."""
    import numpy as np

    from neurondb_spark.functions.quantization import fp16_roundtrip_udf
    from neurondb_spark.operators.knn import knn

    emb = t(spark, sf_dir, "embeddings").withColumn(
        "embedding_h", fp16_roundtrip_udf()(F.col("embedding"))
    )
    qh = [float(np.float16(x)) for x in qvec(spark, sf_dir)]
    return knn(
        emb, "embedding_h", qh, k=10, metric="l2", dim=COMPILE_DIM,
        tiebreak=["vec_id"],
    ).select("vec_id", "label", "distance")


def _sql_halfvec_knn() -> str:
    """Per-element fp16 codec (staged CTEs, shared CASE builders with
    _sql_fp16_roundtrip) + ordered list_reduce fold = Spark's left-assoc
    aggregate over zip_with."""
    sub = f"{2.0 ** -24!r}"
    return f"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
ex AS (SELECT e.vec_id, e.label, CAST(unnest(e.embedding) AS DOUBLE) AS xe,
              generate_subscripts(e.embedding, 1) AS pos FROM embeddings e),
qx AS (SELECT CAST(unnest(qe) AS DOUBLE) AS xq,
              generate_subscripts(qe, 1) AS pos FROM q),
j0 AS (SELECT vec_id, label, pos, xe, xq, abs(xe) AS ae, abs(xq) AS aq
       FROM ex JOIN qx USING (pos)),
j1 AS (SELECT *, (CASE {_fp16_qcase('ae')} ELSE {sub} END) AS qte,
               (CASE {_fp16_qcase('aq')} ELSE {sub} END) AS qtq FROM j0),
j2 AS (SELECT *, floor(ae / qte) AS fe, ae / qte - floor(ae / qte) AS de,
               floor(aq / qtq) AS fq, aq / qtq - floor(aq / qtq) AS dq
       FROM j1),
j3 AS (SELECT vec_id, label, pos,
        {_fp16_rt('xe', 'ae', 'qte', 'fe', 'de')} AS he,
        {_fp16_rt('xq', 'aq', 'qtq', 'fq', 'dq')} AS hq FROM j2),
d AS (SELECT vec_id, label,
        sqrt(list_reduce(list((he - hq) * (he - hq) ORDER BY pos),
                         (acc, v) -> acc + v)) AS distance
      FROM j3 GROUP BY vec_id, label)
SELECT vec_id, label, distance FROM d
ORDER BY distance ASC, vec_id ASC LIMIT 10"""


def _q_stream_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming job-queue drain (worker_queue.c analog):
    enqueue deterministic jobs, AvailableNow drain, return processed
    counts by type. The enqueued set is a pure function of i∈[0,30), so
    a generate_series oracle checks the exactly-once contract: every job
    processed once, none dropped, none duplicated."""
    from neurondb_spark.streaming.queue import JobQueueWorker, enqueue_jobs

    td = tempfile.mkdtemp(prefix="neurondb_stream_q_")
    qdir, odir = os.path.join(td, "queue"), os.path.join(td, "out")
    jobs = [
        {"id": i, "job_type": ("embed" if i % 3 == 0 else "reindex" if i % 3 == 1 else "compact")}
        for i in range(30)
    ]
    enqueue_jobs(spark, qdir, jobs)
    w = JobQueueWorker(spark, qdir, odir, handlers={"embed": lambda r: r})
    w.run_once()
    return (
        w.processed()
        .groupBy("job_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("job_type")
    )


def _q_stream_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked windowed monitor stream (neuranmon analog,
    streaming/queue.py:monitor_stream): deterministic event file →
    AvailableNow drain into a memory sink → per-(window, type) stats.
    Streaming infra can wobble under full-gate session load (the
    stream_job_queue lesson), so a failed streaming run falls back to the
    identical batch aggregation — for a static directory the watermark
    never discards anything, so the results are the same rows. The event
    frame is a pure function of i∈[0,40), so a generate_series oracle
    hash-checks the windowed stats (values are integer-valued doubles —
    sums are exact in any order, no decimal detour needed)."""
    import pandas as pd
    from pyspark.sql import types as T

    from neurondb_spark.streaming import memory_drain, stream_or_batch
    from neurondb_spark.streaming.queue import monitor_stream

    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    td = tempfile.mkdtemp(prefix="neurondb_monitor_")
    evdir = os.path.join(td, "events")
    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = [
        (base + pd.Timedelta(minutes=7 * i), ("click" if i % 2 else "view"),
         float(i % 5))
        for i in range(40)
    ]
    spark.createDataFrame(pd.DataFrame(rows, columns=["ts", "event_type", "value"]),
                          schema=schema).coalesce(1).write.mode("overwrite").parquet(evdir)
    agg = stream_or_batch(
        "stream_monitor_window",
        lambda: memory_drain(
            monitor_stream(spark, evdir, schema, window="1 hour",
                           watermark="2 hours"),
            "neurondb_monitor_gate", "complete",
        ),
        lambda: spark.read.schema(schema).parquet(evdir)
        .groupBy(F.window(F.col("ts"), "1 hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.avg("value").alias("avg_value"),
             F.max("value").alias("max_value")),
    )
    return agg.select(
        F.col("window.start").alias("win_start"), "event_type",
        "n", "avg_value", "max_value",
    ).orderBy("win_start", "event_type")


@fixture("time_travel")
def _time_travel_root(spark: SparkSession, sf_dir: str, path: str) -> None:
    from neurondb_spark.data_management import snapshot

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    v0 = emb.where(F.col("vec_id") <= 300)
    snapshot(spark, v0, path)
    shadow = v0.limit(5).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "label", "embedding"
    )
    snapshot(spark, v0.unionByName(shadow), path)


def _q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot + time-travel (data_management.py; the reference's WAL/
    crash-safety → immutable-version reads, SURVEY §2.11): v0 = the first
    300 embeddings, v1 = v0 plus 5 planted shadow rows. Reading v0 after
    v1 exists must see NONE of the v1 rows — the oracle aggregates the
    original table, so any leak flips counts/max ids."""
    from neurondb_spark.data_management import time_travel

    old = time_travel(spark, _time_travel_root(spark, sf_dir), 0)
    return (
        old.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.max("vec_id").alias("max_id"))
    )


_SQL_TIME_TRAVEL = """SELECT label, COUNT(*) AS n, MAX(vec_id) AS max_id
FROM embeddings WHERE vec_id <= 300 GROUP BY label"""


_SQL_STREAM_QUEUE = """SELECT
  CASE WHEN i % 3 = 0 THEN 'embed' WHEN i % 3 = 1 THEN 'reindex'
       ELSE 'compact' END AS job_type,
  COUNT(*) AS n
FROM generate_series(0, 29) t(i) GROUP BY 1 ORDER BY 1"""

_SQL_STREAM_MONITOR = """WITH rows AS (
  SELECT TIMESTAMP '2024-01-01 00:00:00' + to_minutes(7 * i) AS ts,
         CASE WHEN i % 2 = 1 THEN 'click' ELSE 'view' END AS event_type,
         CAST(i % 5 AS DOUBLE) AS value
  FROM generate_series(0, 39) t(i))
SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
       COUNT(*) AS n, AVG(value) AS avg_value, MAX(value) AS max_value
FROM rows GROUP BY 1, 2 ORDER BY 1, 2"""


_MRL_DIM, _MRL_K, _MRL_NQ = 16, 10, 8


def _q_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation evaluation: top-k agreement between
    full-dim cosine ranking and the ranking over the FIRST 16 dims —
    the measurement that decides whether truncated embeddings are good
    enough for a cheap first-stage retrieve. Truncation costs nothing:
    the unrolled distance kernel with dim=16 simply reads elements
    1..16 of the same array (no slice, no copy — at 100 TB the scan
    reads the same column either way; a column-pruned layout would
    store prefixes separately). Exact on both sides, so the overlap
    counts sit under the hash gate."""
    from neurondb_spark.operators.knn import knn_batch

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _MRL_NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    full = knn_batch(
        emb, "embedding", queries, k=_MRL_K, metric="cosine",
        dim=COMPILE_DIM, tiebreak=["vec_id"],
    ).select("qid", "vec_id")
    trunc = knn_batch(
        emb, "embedding", queries, k=_MRL_K, metric="cosine",
        dim=_MRL_DIM, tiebreak=["vec_id"],
    ).select("qid", "vec_id")
    return (
        full.join(trunc, ["qid", "vec_id"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("overlap_at_k"))
    )


def _sql_matryoshka_overlap() -> str:
    df_full = O.sql_cosine_distance("e.embedding", "q.qvec", EMB_DIM)
    df_tr = O.sql_cosine_distance("e.embedding", "q.qvec", _MRL_DIM)
    return f"""WITH q AS (
  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
  WHERE vec_id < {_MRL_NQ}),
fullr AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.qid
             ORDER BY {df_full} ASC, e.vec_id ASC) AS rn
    FROM embeddings e CROSS JOIN q)
  WHERE rn <= {_MRL_K}),
trunc AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.qid
             ORDER BY {df_tr} ASC, e.vec_id ASC) AS rn
    FROM embeddings e CROSS JOIN q)
  WHERE rn <= {_MRL_K})
SELECT f.qid, COUNT(*) AS overlap_at_k
FROM fullr f JOIN trunc t ON f.qid = t.qid AND f.vec_id = t.vec_id
GROUP BY f.qid"""


def _q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational MERGE / last-writer-wins CDC apply
    (data_management.apply_changes — the table-level twin of the index
    CDC drain; Delta MERGE INTO analog): base = orders with key%5>0; a
    change batch inserts the missing %5==0 rows, upserts %5==1 with a
    doubled price, and deletes %5==2. Output = the merged table, so the
    oracle checks survivor selection, upsert override AND delete removal
    row-for-row. One anti-join on key + a union — no full-table rewrite
    logic, scale-independent of base size."""
    from neurondb_spark.data_management import apply_changes

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.where(F.col("o_orderkey") % 5 > 0)
    changes = orders.where(F.col("o_orderkey") % 5 <= 2).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("i"))
        .when(F.col("o_orderkey") % 5 == 1, F.lit("u"))
        .otherwise(F.lit("d"))
        .alias("op"),
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 5 == 1, F.col("o_totalprice") * 2.0
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    return apply_changes(base, changes, ["o_orderkey"])


_SQL_MERGE_UPSERT = """WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 5 > 0),
changes AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN 'i'
              WHEN o_orderkey % 5 = 1 THEN 'u' ELSE 'd' END AS op,
         o_orderstatus,
         CASE WHEN o_orderkey % 5 = 1 THEN o_totalprice * 2.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 5 <= 2)
SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice
FROM base b LEFT JOIN changes c ON b.o_orderkey = c.o_orderkey
WHERE c.o_orderkey IS NULL
UNION ALL
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM changes WHERE op <> 'd'"""


def _stream_merge_frames(spark: SparkSession, sf_dir: str):
    """Shared base + two change batches for the CDC merge-table rows:
    batch 1 inserts the %5==0 keys, doubles %5==1 prices, deletes %5==2;
    batch 2 re-updates %5==1 to 3x and deletes the %10==0 half of the
    batch-1 inserts. The closed form is _SQL_STREAM_MERGE."""
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.where(F.col("o_orderkey") % 5 > 0)
    k = F.col("o_orderkey")
    c1 = orders.where(k % 5 <= 2).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(k % 5 == 1, F.col("o_totalprice") * 2.0)
        .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        F.when(k % 5 == 0, F.lit("i")).when(k % 5 == 1, F.lit("u"))
        .otherwise(F.lit("d")).alias("op"),
        F.lit(1).cast("long").alias("seq"),
    )
    c2 = orders.where((k % 5 == 1) | ((k % 5 == 0) & (k % 10 == 0))).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(k % 5 == 1, F.col("o_totalprice") * 3.0)
        .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        F.when(k % 5 == 1, F.lit("u")).otherwise(F.lit("d")).alias("op"),
        F.lit(1).cast("long").alias("seq"),
    )
    return base, c1, c2


def _merge_root(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The CDC merge scenario's inputs: both change batches as one file
    each under ``changes/`` (f1 before f2 — the drain takes one file per
    trigger, oldest first) and the base seeded as an 8-bucket table under
    ``table/``, which the drains then advance."""
    from neurondb_spark.streaming.table_merge import init_merge_table

    base, c1, c2 = _stream_merge_frames(spark, sf_dir)
    for name, c in (("f1", c1), ("f2", c2)):
        c.coalesce(1).write.parquet(os.path.join(path, "changes", name))
    init_merge_table(spark, base, os.path.join(path, "table"),
                     ["o_orderkey"], n_buckets=8)


# copy-on-write and merge-on-read drains must not share a table
_merge_cow_root = fixture("merge_cow")(_merge_root)
_merge_mor_root = fixture("merge_mor")(_merge_root)


def _q_stream_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC drain into a bucketed copy-on-write table
    (streaming/table_merge.py — Hudi-style: only TOUCHED buckets are
    rewritten per micro-batch, with verified backup-keeping swaps):
    two change files drained as two micro-batches (maxFilesPerTrigger=1)
    over an orders-derived base — batch 1 inserts the %5==0 rows,
    doubles %5==1 prices and deletes %5==2; batch 2 re-updates %5==1 to
    3x and deletes the %10==0 half of the batch-1 inserts. The final
    table state must hash-equal the oracle's closed form — proving
    cross-batch ordering, idempotent replay safety and the bucketed
    layout all at once. Same infra-only batch fallback contract as the
    other stream rows."""
    return _run_merge_scenario(spark, sf_dir, "stream_merge_upsert",
                               _merge_cow_root(spark, sf_dir),
                               merge_on_read=False)


def _q_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read tier of the same CDC scenario
    (streaming/table_merge.py merge_on_read=True — Hudi MOR shape: each
    micro-batch appends one bucketed change-log directory instead of
    rewriting buckets; compact_every=2 folds the log into the base at
    batch 2, so this row exercises log accumulation, the cadence-driven
    compaction AND the folded read in one pass; the unfolded-read leg is
    pytest-covered). Final state must hash-equal the identical closed
    form as the copy-on-write drain — read semantics are the same, only
    the physical write/read trade differs."""
    return _run_merge_scenario(spark, sf_dir, "merge_on_read_rows",
                               _merge_mor_root(spark, sf_dir),
                               merge_on_read=True, compact_every=2)


def _q_merge_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-pruned point read of ONE key from the merge-on-read CDC
    table (streaming/table_merge.py lookup_merge_table — reads only that
    key's current bucket version dir + its unfolded log slices, resolved
    through the manifest snapshot). The key is the smallest %5==1
    orderkey — an UPDATED row, so the lookup must return the post-merge
    3x price, not the base value; the oracle replays the same closed
    form with a single-key WHERE. Falls back to filtering the closed
    form when the streaming scenario was batch-twinned (same contract
    as the other merge rows)."""
    from neurondb_spark.streaming.table_merge import lookup_merge_table

    key = int(
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 5 == 1)
        .agg(F.min("o_orderkey"))
        .head()[0]
    )
    # ensure the MOR scenario table exists and is fully drained
    # (idempotent — shares the merge_on_read_rows table + checkpoint)
    root = _merge_mor_root(spark, sf_dir)
    state = _run_merge_scenario(spark, sf_dir, "merge_point_lookup", root,
                                merge_on_read=True, compact_every=2)
    table = os.path.join(root, "table")
    if os.path.isdir(table):
        out = lookup_merge_table(spark, table, {"o_orderkey": key})
    else:  # batch-twin fallback (non-strict infra failure only)
        out = state.where(F.col("o_orderkey") == key)
    return out.select("o_orderkey", "o_orderstatus", "o_totalprice")


def _q_merge_multi_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched point read (lookup_merge_table_many — ONE bucket-hash job
    for all keys, then one pruned scan per touched bucket) of three keys
    chosen to cross the merge semantics: the smallest %5==1 orderkey (an
    UPDATED row — must return the 3x price), the smallest %5==3 (an
    untouched base row) and the smallest %10!=0 inserted key (batch-1
    insert that SURVIVES batch 2's deletes). The oracle replays the
    closed form joined to the same three mins. Same batch-twin fallback
    contract as the other merge rows."""
    from neurondb_spark.streaming.table_merge import lookup_merge_table_many

    k = F.col("o_orderkey")
    r = t(spark, sf_dir, "orders").agg(
        F.min(F.when(k % 5 == 1, k)).alias("k1"),
        F.min(F.when(k % 5 == 3, k)).alias("k3"),
        F.min(F.when((k % 5 == 0) & (k % 10 != 0), k)).alias("ki"),
    ).head()
    keys = [int(r["k1"]), int(r["k3"]), int(r["ki"])]
    root = _merge_mor_root(spark, sf_dir)
    state = _run_merge_scenario(spark, sf_dir, "merge_multi_lookup", root,
                                merge_on_read=True, compact_every=2)
    table = os.path.join(root, "table")
    if os.path.isdir(table):
        out = lookup_merge_table_many(
            spark, table, [{"o_orderkey": key} for key in keys]
        )
    else:  # batch-twin fallback (non-strict infra failure only)
        out = state.where(F.col("o_orderkey").isin(keys))
    return out.select("o_orderkey", "o_orderstatus", "o_totalprice")


def _q_merge_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel to the MOR scenario's post-batch-1 commit
    (streaming/table_merge.py read_merge_table(at_commit=N) over the
    `_manifests/` history — the snapshot-isolation surface the manifest
    commits exist for): the commit whose unfolded log is exactly
    [batch 0] is the state AFTER batch 1 and BEFORE batch 2/compaction —
    %5==1 prices at 2x (batch 2 later re-updates them to 3x), every
    %5==0 insert present (batch 2 later deletes the %10==0 half),
    %5==2 already deleted. Its files sit in the retired-but-retained
    window (the compaction commit retired them; nothing has committed
    since), so the historical read must reproduce that exact state —
    hash-gated against the batch-1-only closed form. STRICTER fallback
    contract than the other merge rows: the batch twin covers only the
    table-ABSENT infra case — a present table with a history that lacks
    the post-batch-1 commit is a product bug and raises even without
    NEURONDB_STRICT_STREAM (a silent twin here would hash-green without
    exercising at_commit at all)."""
    from neurondb_spark.streaming.table_merge import (
        merge_table_history,
        read_merge_table,
    )

    base, c1, _c2 = _stream_merge_frames(spark, sf_dir)
    root = _merge_mor_root(spark, sf_dir)
    _run_merge_scenario(spark, sf_dir, "merge_time_travel", root,
                        merge_on_read=True,
                        compact_every=2)  # ensure table drained (idempotent)
    table = os.path.join(root, "table")
    if os.path.isdir(table):
        # table present but history missing its post-batch-1 commit is a
        # PRODUCT bug (broken manifest history), never infra flake — raise
        # unconditionally (VERDICT r14 "What's wrong" #1) so this row can
        # only go green by actually exercising at_commit.
        after_b1 = [m["commit"] for m in merge_table_history(table)
                    if m.get("log_batches") == [0]]
        if not after_b1:
            raise RuntimeError(
                "neurondb: merge_time_travel found the scenario table but "
                "no commit whose unfolded log is [0] in its history — "
                "manifest history is broken; refusing the batch-twin "
                "fallback (reserved for the table-absent infra case)"
            )
        out = read_merge_table(spark, table, at_commit=after_b1[0])
    else:  # batch-twin fallback (non-strict, table-absent infra case only)
        from neurondb_spark.data_management import apply_changes
        from neurondb_spark.streaming import strict_stream

        if strict_stream():
            raise RuntimeError(
                "neurondb: merge_time_travel scenario table missing "
                "under NEURONDB_STRICT_STREAM=1"
            )
        out = apply_changes(base, c1, ["o_orderkey"], seq_col="seq")
    return out.select("o_orderkey", "o_orderstatus", "o_totalprice")


def _q_merge_vacuum_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vacuum under the hash gate (VERDICT r14 #7): fabricate a
    crashed-commit orphan version dir on the MOR scenario table, run
    vacuum_merge_table (remove-orphan-files), and return the post-vacuum
    read — which must STILL hash-equal the closed form: vacuum removes
    exactly the unreachable set and never a file any manifest holder
    references. The row raises if the fabricated orphan survives (vacuum
    did nothing) — a silent no-op vacuum must not hash-green. Table-
    absent infra fallback only (non-strict), same contract as the other
    merge rows."""
    from neurondb_spark.streaming.table_merge import (
        read_merge_table,
        vacuum_merge_table,
    )

    root = _merge_mor_root(spark, sf_dir)
    state = _run_merge_scenario(spark, sf_dir, "merge_vacuum_rows", root,
                                merge_on_read=True, compact_every=2)
    table = os.path.join(root, "table")
    if not os.path.isdir(table):
        return state  # batch twin (strict mode raised in the scenario)
    orphan = os.path.join(table, "bucket=0", "__nbv=999")
    os.makedirs(orphan, exist_ok=True)
    stats = vacuum_merge_table(table)
    if os.path.isdir(orphan) or stats["orphan_versions"] < 1:
        raise RuntimeError(
            "neurondb: merge_vacuum_rows fabricated an orphan version "
            f"dir and vacuum did not remove it (stats={stats})"
        )
    return read_merge_table(spark, table).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@fixture("merge_rebalance")
def _merge_rebalance_root(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The scenario drained with its log UNFOLDED (compact_every=0), then
    re-bucketed 8→5; raises if the recorded layout did not take."""
    from neurondb_spark.streaming.table_merge import (
        _load_table_meta,
        rebalance_merge_table,
    )

    _merge_root(spark, sf_dir, path)
    _run_merge_scenario(spark, sf_dir, "merge_rebalance_rows", path,
                        merge_on_read=True, compact_every=0)
    table = os.path.join(path, "table")
    rebalance_merge_table(spark, table, 5)
    meta = _load_table_meta(table)
    if meta is None or meta["n_buckets"] != 5:
        raise RuntimeError(
            "neurondb: merge_rebalance_rows rebalanced to 5 buckets "
            f"but the recorded layout is {meta} — rebalance did not take"
        )


def _q_merge_rebalance_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance under the hash gate (round-15; previously pytest-only):
    build the CDC scenario on a DEDICATED merge-on-read table (rebalance
    changes the bucketing, so sharing the other rows' table would poison
    their drains), leave the log UNFOLDED (compact_every=0), then
    re-bucket 8→5 — the offline job must fold the log first, rewrite the
    whole table under the new layout, swap, and the post-rebalance read
    must STILL hash-equal the closed form. The drain and rebalance are
    the row's fixture build, which raises if the rebalance doesn't take.
    Reference analog: rebalance_index (NeuronDB/src/index/ivf_am.c
    maintenance surface)."""
    from neurondb_spark.streaming.table_merge import read_merge_table

    table = os.path.join(_merge_rebalance_root(spark, sf_dir), "table")
    return read_merge_table(spark, table).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


_SQL_MERGE_TIME_TRAVEL = """SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders WHERE o_orderkey % 5 IN (3, 4)
UNION ALL
SELECT o_orderkey, o_orderstatus, o_totalprice * 2.0 AS o_totalprice
FROM orders WHERE o_orderkey % 5 = 1
UNION ALL
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders WHERE o_orderkey % 5 = 0"""


def _run_merge_scenario(
    spark: SparkSession, sf_dir: str, row_name: str, root: str,
    merge_on_read: bool, compact_every: int = 0,
) -> DataFrame:
    """Drain ``root``'s staged changes into its table (idempotent: the
    checkpoint skips drained files) and read the table back."""
    from neurondb_spark.data_management import apply_changes
    from neurondb_spark.streaming import stream_or_batch
    from neurondb_spark.streaming.table_merge import (
        merge_stream_drain,
        read_merge_table,
    )

    base, c1, c2 = _stream_merge_frames(spark, sf_dir)
    table = os.path.join(root, "table")

    def _drain() -> DataFrame | None:
        merge_stream_drain(
            spark, os.path.join(root, "changes") + "/*/", c1.schema, table,
            ["o_orderkey"], n_buckets=8, max_files_per_trigger=1,
            merge_on_read=merge_on_read, compact_every=compact_every,
        )
        out = read_merge_table(spark, table)
        return out if out.head(1) else None

    out = stream_or_batch(
        row_name, _drain,
        lambda: apply_changes(
            apply_changes(base, c1, ["o_orderkey"], seq_col="seq"),
            c2, ["o_orderkey"], seq_col="seq",
        ),
    )
    return out.select("o_orderkey", "o_orderstatus", "o_totalprice")


_SQL_STREAM_MERGE = """SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders WHERE o_orderkey % 5 IN (3, 4)
UNION ALL
SELECT o_orderkey, o_orderstatus, o_totalprice * 3.0 AS o_totalprice
FROM orders WHERE o_orderkey % 5 = 1
UNION ALL
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 10 <> 0"""

_SQL_MERGE_POINT_LOOKUP = f"""WITH state AS (
{_SQL_STREAM_MERGE}
)
SELECT o_orderkey, o_orderstatus, o_totalprice FROM state
WHERE o_orderkey = (
  SELECT min(o_orderkey) FROM orders WHERE o_orderkey % 5 = 1)"""

_SQL_MERGE_MULTI_LOOKUP = f"""WITH state AS (
{_SQL_STREAM_MERGE}
), keys AS (
  SELECT min(o_orderkey) AS k FROM orders WHERE o_orderkey % 5 = 1
  UNION ALL
  SELECT min(o_orderkey) FROM orders WHERE o_orderkey % 5 = 3
  UNION ALL
  SELECT min(o_orderkey) FROM orders
  WHERE o_orderkey % 5 = 0 AND o_orderkey % 10 <> 0
)
SELECT s.o_orderkey, s.o_orderstatus, s.o_totalprice
FROM state s JOIN keys ON s.o_orderkey = keys.k"""


QUERIES = {
    "merge_upsert_rows": (_q_merge_upsert, _SQL_MERGE_UPSERT),
    "stream_merge_upsert": (_q_stream_merge, _SQL_STREAM_MERGE),
    "merge_on_read_rows": (_q_merge_on_read, _SQL_STREAM_MERGE),
    "merge_point_lookup": (_q_merge_point_lookup, _SQL_MERGE_POINT_LOOKUP),
    "merge_multi_lookup": (_q_merge_multi_lookup, _SQL_MERGE_MULTI_LOOKUP),
    "merge_time_travel": (_q_merge_time_travel, _SQL_MERGE_TIME_TRAVEL),
    "merge_vacuum_rows": (_q_merge_vacuum_rows, _SQL_STREAM_MERGE),
    "merge_rebalance_rows": (_q_merge_rebalance_rows, _SQL_STREAM_MERGE),
    "matryoshka_overlap": (_q_matryoshka_overlap, _sql_matryoshka_overlap()),
    "vec_route_counts": (_q_vec_route, _sql_vec_route()),
    "snapshot_time_travel": (_q_time_travel, _SQL_TIME_TRAVEL),
    "ann_batch_topk": (_q_ann_batch_topk, _sql_ann_batch_topk()),
    "detokenize_roundtrip": (_q_detokenize, _sql_detokenize()),
    "fp16_roundtrip_err": (_q_fp16_roundtrip, _sql_fp16_roundtrip()),
    "halfvec_knn": (_q_halfvec_knn, _sql_halfvec_knn()),
    "compact_roundtrip": (_q_compact_roundtrip, _sql_compact_roundtrip()),
    "stream_exact_dedup": (_q_stream_exact_dedup, _sql_stream_exact_dedup()),
    "stream_lsh_neardup": (_q_stream_lsh_neardup, _sql_stream_lsh_neardup()),
    "stream_ivf_cdc_knn": (_q_stream_ivf_cdc, _sql_stream_ivf_cdc()),
    "stream_job_queue": (_q_stream_queue, _SQL_STREAM_QUEUE),
    "stream_monitor_window": (_q_stream_monitor, _SQL_STREAM_MONITOR),
}
