"""IVF+PQ combined index — the classic billion-scale ANN layout
(SURVEY §2.5 IVF row × §2.10 PQ row; reference builds them separately:
ivf_am.c + ml_product_quantization.c; the combination is the standard
coarse-quantizer + product-code design of every production ANN system).

Layout: one KMeans coarse quantizer (IVF) partitions the data by
cluster_id; within each partition rows carry their PQ codes (M bytes)
NEXT TO the raw vector. Search:

1. driver ranks centroids, prunes to ``nprobe`` partitions
   (PartitionFilters — reads nprobe/nlists of the files);
2. ADC scan over the pruned rows using only the code column — the
   memory-bandwidth win: M bytes/row instead of 4·dim;
3. exact re-rank of the top ``refine·k`` ADC candidates with the full
   vectors (the candidates carry them — no second lookup join), so the
   emitted distances are true L2 and recall loss comes only from the
   ADC candidate cut, tunable via ``refine``.

At 100 TB: the ADC scan's column pruning means the hot path reads the
codes column of nprobe partitions only; raw vectors are touched for
refine·k rows per query.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neurondb_spark.data_management import layout_schema
from neurondb_spark.functions.distance import distance
from neurondb_spark.index.ivf import IVFIndex
from neurondb_spark.index.pq import PQCodebook, pq_search
from neurondb_spark.operators.knn import vec_route


class IVFPQIndex:
    def __init__(self, path: str, meta: dict, centroids, codebook: PQCodebook):
        self.path = path
        self.meta = meta
        self.centroids = centroids
        self.codebook = codebook

    @staticmethod
    def build(
        df: DataFrame,
        vec_col: str,
        id_col: str,
        path: str,
        dim: int,
        nlists: int = 16,
        m: int = 8,
        k: int = 16,
        metric: str = "l2",
        seed: int = 42,
    ) -> "IVFPQIndex":
        """One KMeans for the coarse quantizer, M sub-KMeans for the
        codebook (both sampled), then ONE partitioned write carrying
        (id, vector, codes) — a single shuffle keyed by cluster."""
        if metric != "l2":
            raise ValueError("neurondb: ivfpq supports l2 only")
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        total = df.count()
        sample_cap = min(10_000, nlists * 100)
        frac = min(1.0, sample_cap / max(total, 1))
        sample = df.sample(fraction=frac, seed=seed) if frac < 1.0 else df
        feats = sample.select(
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
        )
        km = KMeans(k=nlists, maxIter=50, tol=1e-3, seed=seed,
                    initMode="k-means||")
        centroids = [[float(x) for x in c]
                     for c in km.fit(feats).clusterCenters()]
        cb = PQCodebook.train(df, vec_col, dim=dim, m=m, k=k, seed=seed)
        assigned = vec_route(df, vec_col, centroids, metric=metric, dim=dim,
                             out_col="cluster_id")
        assigned.select(
            "cluster_id", F.col(id_col), F.col(vec_col),
            cb.encode_udf()(F.col(vec_col)).alias("pq_codes"),
        ).write.mode("overwrite").partitionBy("cluster_id").parquet(
            os.path.join(path, "data")
        )
        meta = {
            "version": 1, "method": "ivfpq", "vec_col": vec_col,
            "id_col": id_col, "metric": metric, "dim": dim,
            "nlists": nlists, "m": m, "k": k, "seed": seed,
            "total_rows": total, "built_at": int(time.time()),
            # cached layout schema — search reads with it (no per-query
            # footer/inference job), same discipline as IVF/HNSW
            "data_schema": layout_schema(os.path.join(path, "data"), "cluster_id"),
        }
        os.makedirs(path, exist_ok=True)
        cb.save(path)
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump({"meta": meta, "centroids": centroids}, f)
        return IVFPQIndex(path, meta, centroids, cb)

    @staticmethod
    def load(path: str) -> "IVFPQIndex":
        with open(os.path.join(path, "meta.json")) as f:
            d = json.load(f)
        return IVFPQIndex(path, d["meta"], d["centroids"], PQCodebook.load(path))

    def search(
        self,
        spark: SparkSession,
        query: list[float],
        topk: int = 10,
        nprobe: int = 4,
        refine: int = 4,
        dist_col: str = "distance",
    ) -> DataFrame:
        """Pruned ADC scan → exact re-rank of refine·topk candidates."""
        m = self.meta
        helper = IVFIndex(self.path, m, self.centroids)
        clusters = helper._nearest_clusters(query, max(1, min(nprobe, m["nlists"])))
        df = helper._read_data(spark)
        pruned = df.where(F.col("cluster_id").isin(clusters))
        cands = pq_search(
            pruned, self.codebook, "pq_codes", [float(x) for x in query],
            k=int(refine) * int(topk), id_col=m["id_col"],
        )
        d = distance(m["vec_col"], query, m["metric"],
                     dim=m.get("dim"), checked=False)
        return (
            cands.withColumn(dist_col, d)
            .select(m["id_col"], dist_col)
            .orderBy(F.col(dist_col).asc(), F.col(m["id_col"]).asc())
            .limit(int(topk))
        )
