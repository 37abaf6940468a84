"""Specialized index variants (SURVEY §2.11; reference SQL surface
neurondb--1.0.sql:4178-4308).

Each variant maps the reference's dedicated index structure onto a
partitioned-parquet layout whose pruning column IS the index:

- ``TenantIndex`` — hnsw_tenant_create/search/quota
  (src/index/index_hnsw_tenant.c): layout partitioned by the tenant
  column with hard per-tenant quotas checked at build; search is a
  partition-pruned exact kNN inside one tenant's files.
- ``TemporalIndex`` — temporal_index_create / temporal_knn_search /
  temporal_score (src/index/index_temporal.c:175-330): layout
  partitioned by time bucket; search prunes buckets by the time filter
  and orders by ``base_score * exp(-decay_rate * age_days)``.
- ``ConsistentIndex`` — consistent_index_create/consistent_knn_search
  (src/index/index_consistent.c): versioned snapshot dirs + a LATEST
  pointer; ``eventual`` serves the snapshot pinned at open (no
  re-resolution, replica-stable), ``strong`` re-resolves LATEST.
  Deterministic (distance, id) ordering so replicas agree bit-for-bit.
- ``HybridIndex`` — hybrid_index_create/search
  (src/index/index_hybrid.c): vector layout + prebuilt inverted text
  postings; score = alpha·(1 − dist) + (1−alpha)·tf, the indexed form
  of operators/hybrid.hybrid_search.
- ``RerankIndex`` — rerank_index_create / rerank_get_candidates /
  rerank_index_warm (src/index/index_rerank.c): fetch_factor·k
  candidates from a base IVF index, left-joined against a parquet
  score cache warmed per sample query.

Scale notes (100 TB): every search path begins with a partition-pruned
scan (tenant / time bucket / IVF cluster) — the pruning predicate is a
literal IN/equality filter Catalyst pushes to the file listing, so cost
is proportional to the selected slice, not the table. Quota/statistics
reads aggregate file metadata, never data rows.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from neurondb_spark.functions.distance import distance

USECS_PER_DAY = 86400.0 * 1e6


def _write_meta(path: str, meta: dict) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)


def _read_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


# --------------------------------------------------------------- tenant


class TenantIndex:
    """Tenant-partitioned vector index with hard quotas
    (hnsw_tenant_create/search/quota, index_hnsw_tenant.c:44-360)."""

    def __init__(self, path: str, meta: dict):
        self.path = path
        self.meta = meta

    @staticmethod
    def build(
        df: DataFrame,
        vec_col: str,
        tenant_col: str,
        path: str,
        quota_rows: int | None = None,
        metric: str = "l2",
        dim: int | None = None,
    ) -> "TenantIndex":
        """One partitioned write keyed by tenant. The reference enforces
        quota_max at insert (index_hnsw_tenant.c:60-80); here the build
        rejects any tenant already over quota — the batch analog."""
        if quota_rows is not None:
            over = (
                df.groupBy(tenant_col).count()
                .where(F.col("count") > quota_rows)
                .collect()
            )
            if over:
                worst = ", ".join(f"{r[0]}={r['count']}" for r in over[:3])
                raise ValueError(
                    f"neurondb: tenant quota exceeded ({worst} > {quota_rows})"
                )
        df.write.mode("overwrite").partitionBy(tenant_col).parquet(
            os.path.join(path, "data")
        )
        meta = {
            "kind": "tenant", "vec_col": vec_col, "tenant_col": tenant_col,
            "metric": metric, "dim": dim, "quota_rows": quota_rows,
            "built_at": int(time.time()),
        }
        _write_meta(path, meta)
        return TenantIndex(path, meta)

    @staticmethod
    def load(path: str) -> "TenantIndex":
        return TenantIndex(path, _read_meta(path))

    def search(
        self,
        spark: SparkSession,
        tenant,
        query,
        k: int = 10,
        dist_col: str = "distance",
        tiebreak: list[str] | None = None,
    ) -> DataFrame:
        """hnsw_tenant_search: partition-pruned scan of ONE tenant's files
        (PartitionFilters in .explain) → exact kNN TakeOrdered."""
        m = self.meta
        df = spark.read.parquet(os.path.join(self.path, "data"))
        pruned = df.where(F.col(m["tenant_col"]) == F.lit(tenant))
        d = distance(m["vec_col"], query, m["metric"],
                     dim=m.get("dim"), checked=False)
        out = pruned.withColumn(dist_col, d)
        order = [F.col(dist_col).asc()] + [F.col(c).asc() for c in (tiebreak or [])]
        return out.orderBy(*order).limit(k)

    def quota(self, spark: SparkSession, tenant) -> dict:
        """hnsw_tenant_quota: used rows from partition row-count metadata
        (a count over one pruned partition — no full scan), storage from
        the tenant's file sizes."""
        m = self.meta
        data = os.path.join(self.path, "data")
        used = (
            spark.read.parquet(data)
            .where(F.col(m["tenant_col"]) == F.lit(tenant))
            .count()
        )
        part_dir = os.path.join(data, f"{m['tenant_col']}={tenant}")
        size = 0
        if os.path.isdir(part_dir):
            for root, _, files in os.walk(part_dir):
                size += sum(os.path.getsize(os.path.join(root, fn)) for fn in files)
        return {
            "vectors_used": used,
            "vectors_limit": m.get("quota_rows"),
            "storage_mb": size / 1e6,
            "storage_limit_mb": None,
        }


# -------------------------------------------------------------- temporal


def temporal_score(
    base_score: Column, ts: Column, now: Column, decay_rate: float = 0.1
) -> Column:
    """temporal_score (index_temporal.c:305-330):
    ``base_score * exp(-decay_rate * age_days)``, timestamps in µs,
    decay_rate in 1/days."""
    age_days = (now.cast("double") - ts.cast("double")) / F.lit(USECS_PER_DAY)
    return base_score * F.exp(F.lit(-float(decay_rate)) * age_days)


class TemporalIndex:
    """Time-bucket-partitioned vector index
    (temporal_index_create/temporal_knn_search, index_temporal.c:175-260)."""

    def __init__(self, path: str, meta: dict):
        self.path = path
        self.meta = meta

    @staticmethod
    def build(
        df: DataFrame,
        vec_col: str,
        ts_col: str,
        path: str,
        bucket: str = "day",
        metric: str = "l2",
        dim: int | None = None,
    ) -> "TemporalIndex":
        """Partition by date_trunc(bucket, ts): the time filter becomes a
        partition-pruning predicate; within a bucket the scan is exact."""
        data = df.withColumn(
            "_bucket", F.date_format(F.date_trunc(bucket, F.col(ts_col)),
                                     "yyyy-MM-dd'T'HH")
        )
        data.write.mode("overwrite").partitionBy("_bucket").parquet(
            os.path.join(path, "data")
        )
        meta = {
            "kind": "temporal", "vec_col": vec_col, "ts_col": ts_col,
            "bucket": bucket, "metric": metric, "dim": dim,
            "built_at": int(time.time()),
        }
        _write_meta(path, meta)
        return TemporalIndex(path, meta)

    @staticmethod
    def load(path: str) -> "TemporalIndex":
        return TemporalIndex(path, _read_meta(path))

    def search(
        self,
        spark: SparkSession,
        query,
        k: int = 10,
        lo=None,
        hi=None,
        decay_rate: float = 0.1,
        now=None,
        tiebreak: list[str] | None = None,
    ) -> DataFrame:
        """temporal_knn_search: prune the ts range (both the partition
        bucket and the row-level bound), score = temporal_score(-l2,
        insert_ts, now, decay_rate), ORDER BY score DESC LIMIT k — the
        reference's generated scan verbatim (index_temporal.c:226-242)."""
        m = self.meta
        df = spark.read.parquet(os.path.join(self.path, "data"))
        ts = F.col(m["ts_col"])
        if lo is not None or hi is not None:
            # constrain the _bucket PARTITION column too — this is what
            # actually prunes bucket directories from the scan
            # (PartitionFilters); the row-level ts bound alone reads every
            # file. Bucket strings come from the same date_trunc +
            # date_format as build(), evaluated in a one-row job so the
            # trunc semantics are identical; the format is
            # lexicographically monotonic, and trunc is order-preserving,
            # so bucket(lo) <= _bucket <= bucket(hi) is exact.
            def _bucket_str(bound):
                return F.date_format(
                    F.date_trunc(m["bucket"], F.lit(bound).cast("timestamp")),
                    "yyyy-MM-dd'T'HH",
                )

            bounds = spark.range(1).select(
                *([_bucket_str(lo).alias("lo")] if lo is not None else []),
                *([_bucket_str(hi).alias("hi")] if hi is not None else []),
            ).head()
            if lo is not None:
                df = df.where(F.col("_bucket") >= F.lit(bounds["lo"]))
                df = df.where(ts >= F.lit(lo))
            if hi is not None:
                df = df.where(F.col("_bucket") <= F.lit(bounds["hi"]))
                df = df.where(ts <= F.lit(hi))
        d = distance(m["vec_col"], query, m["metric"],
                     dim=m.get("dim"), checked=False)
        now_c = F.lit(now) if now is not None else F.current_timestamp()
        score = temporal_score(
            -d, ts.cast("timestamp").cast("double") * 1e6,
            now_c.cast("timestamp").cast("double") * 1e6, decay_rate,
        )
        out = df.withColumn("score", score)
        order = [F.col("score").desc()] + [F.col(c).asc() for c in (tiebreak or [])]
        return out.orderBy(*order).limit(k)


# ------------------------------------------------------------ consistent


class ConsistentIndex:
    """Snapshot-pinned vector index with deterministic top-k
    (consistent_index_create/consistent_knn_search, index_consistent.c).

    The reference pins an MVCC snapshot so every replica answers from the
    same data version; the parquet analog is versioned snapshot dirs
    (``v000001``, …) plus a LATEST pointer. ``eventual`` reads the version
    pinned when this handle was opened; ``strong`` re-resolves LATEST.
    Ordering is (distance, id) — fully deterministic across replicas."""

    def __init__(self, path: str, meta: dict, pinned: int):
        self.path = path
        self.meta = meta
        self.pinned = pinned

    @staticmethod
    def _latest(path: str) -> int:
        with open(os.path.join(path, "LATEST")) as f:
            return int(f.read().strip())

    @staticmethod
    def build(
        df: DataFrame,
        vec_col: str,
        id_col: str,
        path: str,
        metric: str = "l2",
        dim: int | None = None,
    ) -> "ConsistentIndex":
        meta = {
            "kind": "consistent", "vec_col": vec_col, "id_col": id_col,
            "metric": metric, "dim": dim, "built_at": int(time.time()),
        }
        _write_meta(path, meta)
        idx = ConsistentIndex(path, meta, 0)
        idx._commit(df, 1)
        idx.pinned = 1
        return idx

    @staticmethod
    def load(path: str) -> "ConsistentIndex":
        meta = _read_meta(path)
        return ConsistentIndex(path, meta, ConsistentIndex._latest(path))

    def _commit(self, df: DataFrame, version: int) -> None:
        df.write.mode("overwrite").parquet(
            os.path.join(self.path, f"v{version:06d}")
        )
        # pointer write is atomic-rename so readers see old-or-new, never torn
        tmp = os.path.join(self.path, "LATEST.tmp")
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, os.path.join(self.path, "LATEST"))

    def append(self, df: DataFrame) -> int:
        """New snapshot = previous snapshot ∪ rows (copy-on-write commit).
        Readers pinned to older versions are unaffected."""
        spark = df.sparkSession
        latest = self._latest(self.path)
        prev = spark.read.parquet(os.path.join(self.path, f"v{latest:06d}"))
        nxt = latest + 1
        self._commit(prev.unionByName(df), nxt)
        return nxt

    def search(
        self,
        spark: SparkSession,
        query,
        k: int = 10,
        consistency_level: str = "eventual",
        dist_col: str = "distance",
    ) -> DataFrame:
        if consistency_level not in ("eventual", "strong"):
            raise ValueError(
                f"neurondb: unknown consistency level {consistency_level!r}"
            )
        version = (
            self._latest(self.path) if consistency_level == "strong"
            else self.pinned
        )
        m = self.meta
        df = spark.read.parquet(os.path.join(self.path, f"v{version:06d}"))
        d = distance(m["vec_col"], query, m["metric"],
                     dim=m.get("dim"), checked=False)
        return (
            df.withColumn(dist_col, d)
            .orderBy(F.col(dist_col).asc(), F.col(m["id_col"]).asc())
            .limit(k)
        )


# ---------------------------------------------------------------- hybrid


class HybridIndex:
    """Vector + inverted-text index (hybrid_index_create/search,
    index_hybrid.c): the indexed form of operators/hybrid.hybrid_search —
    postings are prebuilt at create time instead of tokenized per query."""

    def __init__(self, path: str, meta: dict):
        self.path = path
        self.meta = meta

    @staticmethod
    def build(
        df: DataFrame,
        vec_col: str,
        text_col: str,
        id_col: str,
        path: str,
        metric: str = "l2",
        dim: int | None = None,
    ) -> "HybridIndex":
        from neurondb_spark.functions.text import tokenize

        df.select(id_col, vec_col).write.mode("overwrite").parquet(
            os.path.join(path, "vectors")
        )
        postings = (
            df.select(id_col, F.explode(tokenize(text_col)).alias("term"))
            .groupBy("term", id_col)
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        # one shuffle keyed by term; at corpus scale add partitionBy("term")
        # bucketing so per-term probes prune files
        postings.write.mode("overwrite").parquet(os.path.join(path, "postings"))
        meta = {
            "kind": "hybrid", "vec_col": vec_col, "text_col": text_col,
            "id_col": id_col, "metric": metric, "dim": dim,
            "built_at": int(time.time()),
        }
        _write_meta(path, meta)
        return HybridIndex(path, meta)

    @staticmethod
    def load(path: str) -> "HybridIndex":
        return HybridIndex(path, _read_meta(path))

    def search(
        self,
        spark: SparkSession,
        query_vec,
        query_text: str,
        k: int = 10,
        alpha: float = 0.5,
    ) -> DataFrame:
        """score = alpha·(1 − dist) + (1−alpha)·Σtf over matched query
        terms (hybrid_index_search's rank blend, index_hybrid.c)."""
        from neurondb_spark.functions.text import _py_tokenize

        m = self.meta
        iid = m["id_col"]
        vecs = spark.read.parquet(os.path.join(self.path, "vectors"))
        postings = spark.read.parquet(os.path.join(self.path, "postings"))
        qterms = list(dict.fromkeys(_py_tokenize(query_text)))
        tscore = (
            postings.where(F.col("term").isin(qterms))  # pushed to the scan
            .groupBy(iid)
            .agg(F.sum("tf").cast("double").alias("_tscore"))
        )
        d = distance(m["vec_col"], query_vec, m["metric"],
                     dim=m.get("dim"), checked=False)
        a = float(alpha)
        scored = (
            vecs.withColumn("_vscore", 1.0 - d)
            .join(tscore, iid, "left")
            .withColumn(
                "score",
                F.lit(a) * F.col("_vscore")
                + F.lit(1.0 - a) * F.coalesce(F.col("_tscore"), F.lit(0.0)),
            )
        )
        return (
            scored.select(iid, "score")
            .orderBy(F.col("score").desc(), F.col(iid).asc())
            .limit(k)
        )


# ---------------------------------------------------------------- rerank


class RerankIndex:
    """Reranking cache over a base ANN index (rerank_index_create /
    rerank_get_candidates / rerank_index_warm, index_rerank.c:374-430).

    ``warm`` precomputes rerank scores for sample queries' top candidates
    into a parquet cache keyed by (query fingerprint, id);
    ``get_candidates`` fetches fetch_factor·k from the base index and
    left-joins the cache — cached_score is NULL on cache miss, matching
    the reference's partial-cache contract."""

    def __init__(self, path: str, base, meta: dict):
        self.path = path
        self.base = base
        self.meta = meta

    @staticmethod
    def create(base, path: str, id_col: str) -> "RerankIndex":
        meta = {"kind": "rerank", "id_col": id_col, "base": base.path,
                "built_at": int(time.time())}
        _write_meta(path, meta)
        return RerankIndex(path, base, meta)

    @staticmethod
    def _qkey(query) -> str:
        import hashlib

        return hashlib.sha256(
            ",".join(repr(float(x)) for x in query).encode()
        ).hexdigest()[:16]

    def warm(
        self,
        spark: SparkSession,
        sample_queries: list,
        top_k: int = 100,
        scorer=None,
    ) -> int:
        """Score each sample query's top_k base candidates and persist.
        ``scorer(df, query) -> df + _score`` defaults to negative exact
        distance (the cross-encoder fallback tier)."""
        iid = self.meta["id_col"]
        n = 0
        for q in sample_queries:
            cands = self.base.search(spark, q, k=top_k, tiebreak=[iid])
            if scorer is None:
                scored = cands.withColumn("_score", -F.col("distance"))
            else:
                scored = scorer(cands, q)
            out = scored.select(
                F.lit(self._qkey(q)).alias("qkey"),
                F.col(iid),
                F.col("_score").alias("cached_score"),
            )
            out.write.mode("append").parquet(os.path.join(self.path, "cache"))
            n += top_k
        return n

    def get_candidates(
        self,
        spark: SparkSession,
        query,
        k: int = 10,
        fetch_factor: int = 10,
    ) -> DataFrame:
        iid = self.meta["id_col"]
        cands = self.base.search(
            spark, query, k=k * fetch_factor, tiebreak=[iid]
        )
        cache_dir = os.path.join(self.path, "cache")
        if os.path.isdir(cache_dir):
            cache = (
                spark.read.parquet(cache_dir)
                .where(F.col("qkey") == self._qkey(query))  # pruned probe
                .select(iid, "cached_score")
            )
            cands = cands.join(F.broadcast(cache), iid, "left")
        else:
            cands = cands.withColumn("cached_score", F.lit(None).cast("double"))
        return cands.select(iid, "distance", "cached_score").orderBy(
            F.col("distance").asc(), F.col(iid).asc()
        )
