"""IVF (inverted-file) ANN index: KMeans centroids + cluster-partitioned
parquet + partition-pruned probe search.

Reference semantics (NeuronDB/src/index/ivf_am.c:53-56,511-728): build
samples vectors (≤ min(10k, nlists·100)), runs kmeans (≤50 iters, tol
0.001) → nlists centroid lists; a query computes distances to all
centroids, probes the nprobe nearest lists, scans them exactly. Defaults
nlists=100, nprobe=10 (BASELINE.md).

Spark-first design — why this scales to 100 TB where the reference is
single-backend:

- BUILD: KMeans on a seeded sample (MLlib, distributed), then ONE
  partitioned write (`partitionBy(cluster_id)`) — a single shuffle keyed by
  nearest-centroid. Cluster skew is bounded by KMeans balance; pathological
  skew can be re-split by appending a salt level to cluster_id.
- SEARCH: centroids are a driver-side array (nlists ≤ ~64k: KB-MB scale);
  nearest-nprobe clusters are computed in Python (numpy) and become a
  partition-pruning IN-filter — the scan reads only nprobe/nlists of the
  data (visible as PartitionFilters in .explain). Within the pruned scan
  the exact distance expression + TakeOrderedAndProject gives per-partition
  top-k heaps merged on the driver: no shuffle at all.
- recall knob identical to the reference: nprobe (=nlists → exact).
"""

from __future__ import annotations

import json
import math
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neurondb_spark.data_management import (
    apply_dml_commit,
    atomic_write_json,
    dml_commit,
    footer_rows,
    layout_schema,
    read_tombstones,
)
from neurondb_spark.functions.distance import distance


class IVFIndex:
    """A built IVF index: metadata + centroid list + partitioned data dir."""

    def __init__(self, path: str, meta: dict, centroids: list[list[float]]):
        self.path = path
        self.meta = meta
        self.centroids = centroids

    # ------------------------------------------------------------- build

    @staticmethod
    def build(
        df: DataFrame,
        vec_col: str,
        path: str,
        nlists: int = 100,
        metric: str = "l2",
        sample_cap: int | None = None,
        max_iter: int = 50,
        tol: float = 1e-3,
        seed: int = 42,
        dim: int | None = None,
    ) -> "IVFIndex":
        """KMeans → assign → partitioned write. Mirrors ivf_am.c defaults:
        sample ≤ min(10k, nlists·100) for the centroid fit (the *assignment*
        runs over the full data, distributed)."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        if sample_cap is None:
            sample_cap = min(10_000, nlists * 100)
        total = df.count()
        frac = min(1.0, sample_cap / max(total, 1))
        sample = df.sample(fraction=frac, seed=seed) if frac < 1.0 else df
        feats = sample.select(
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
        )
        km = KMeans(k=nlists, maxIter=max_iter, tol=tol, seed=seed, initMode="k-means||")
        model = km.fit(feats)
        centroids = [[float(x) for x in c] for c in model.clusterCenters()]

        # Assign every row to its nearest centroid with the SAME distance
        # expression used at query time (broadcast centroid literals).
        from neurondb_spark.operators.knn import vec_route

        assigned = vec_route(df, vec_col, centroids, metric=metric, dim=dim, out_col="cluster_id")
        assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(
            os.path.join(path, "data")
        )
        meta = {
            "version": 1,
            "method": "ivf",
            "vec_col": vec_col,
            "metric": metric,
            "nlists": nlists,
            "dim": dim,
            "total_rows": total,
            "built_at": int(time.time()),
            # cached layout schema: search reads with an explicit schema,
            # skipping the per-query parquet footer/inference job; taken
            # from a written footer, so the build runs no inference job
            "data_schema": layout_schema(os.path.join(path, "data"), "cluster_id"),
        }
        atomic_write_json(
            os.path.join(path, "meta.json"),
            {"meta": meta, "centroids": centroids},
        )
        return IVFIndex(path, meta, centroids)

    @staticmethod
    def from_assignment(
        df_assigned: DataFrame,
        vec_col: str,
        path: str,
        centroids: list[list[float]],
        metric: str = "l2",
        dim: int | None = None,
        cluster_col: str = "cluster_id",
    ) -> "IVFIndex":
        """Build the partitioned layout from a caller-provided assignment
        and centroid set — no KMeans fit. Used when the centroids come
        from an external (e.g. oracle-exact fixed-Lloyd) trainer; the
        write is the same single cluster-keyed shuffle as ``build``."""
        df = df_assigned
        if cluster_col != "cluster_id":
            df = df.withColumnRenamed(cluster_col, "cluster_id")
        df.write.mode("overwrite").partitionBy("cluster_id").parquet(
            os.path.join(path, "data")
        )
        total = footer_rows(os.path.join(path, "data"))
        meta = {
            "version": 1,
            "method": "ivf",
            "vec_col": vec_col,
            "metric": metric,
            "nlists": len(centroids),
            "dim": dim,
            "total_rows": total,
            "built_at": int(time.time()),
            "data_schema": layout_schema(os.path.join(path, "data"), "cluster_id"),
        }
        atomic_write_json(
            os.path.join(path, "meta.json"),
            {"meta": meta, "centroids": centroids},
        )
        return IVFIndex(path, meta, centroids)

    @staticmethod
    def load(path: str) -> "IVFIndex":
        # Crash recovery: a journaled commit (vacuum, compact, rebalance)
        # that died mid-commit is rolled forward here (idempotent
        # directory renames, no Spark).
        apply_dml_commit(path)
        with open(os.path.join(path, "meta.json")) as f:
            d = json.load(f)
        return IVFIndex(path, d["meta"], d["centroids"])

    # ------------------------------------------------------------ search

    def _read_data(self, spark: SparkSession) -> DataFrame:
        """Read the partitioned layout with the schema cached at build
        time when available — the search hot path then launches zero
        inference jobs (same discipline as HNSW search)."""
        from pyspark.sql import types as T

        p = os.path.join(self.path, "data")
        sj = self.meta.get("data_schema")
        if sj:
            return spark.read.schema(T.StructType.fromJson(json.loads(sj))).parquet(p)
        return spark.read.parquet(p)

    def _nearest_clusters(self, query: list[float], nprobe: int) -> list[int]:
        """Driver-side centroid ranking (centroids are tiny)."""
        metric = self.meta["metric"]

        def d(c):
            if metric == "cosine":
                ip = sum(a * b for a, b in zip(query, c))
                na = math.sqrt(sum(a * a for a in query))
                nb = math.sqrt(sum(b * b for b in c))
                return 1.0 - ip / (na * nb) if na and nb else 2.0
            if metric in ("ip", "inner_product"):
                return -sum(a * b for a, b in zip(query, c))
            return sum((a - b) ** 2 for a, b in zip(query, c))

        ranked = sorted(range(len(self.centroids)), key=lambda i: (d(self.centroids[i]), i))
        return ranked[:nprobe]

    def search(
        self,
        spark: SparkSession,
        query: list[float],
        k: int = 10,
        nprobe: int | None = None,
        dist_col: str = "distance",
        tiebreak: list[str] | None = None,
        probe_clusters: list[int] | None = None,
    ) -> DataFrame:
        """Probe nprobe clusters (partition-pruned scan) → exact top-k.
        ``probe_clusters`` overrides the driver-side centroid ranking
        with an explicit cluster list (e.g. one computed by an
        oracle-replayable fixed-point ranking)."""
        if probe_clusters is not None:
            clusters = [int(c) for c in probe_clusters]
        else:
            if nprobe is None:
                nprobe = int(spark.conf.get("spark.neurondb.ivf.nprobe", "10"))
            nprobe = max(1, min(nprobe, self.meta["nlists"]))
            clusters = self._nearest_clusters(query, nprobe)
        df = self._read_data(spark)
        pruned = df.where(F.col("cluster_id").isin(clusters))
        tomb = self._tombstones(spark)
        if tomb is not None:
            tomb_col = tomb.columns[0]
            if tomb_col not in pruned.columns:
                # Never silently return soft-deleted rows: if tombstones
                # exist but can't be joined to the data, that's corruption
                # (or a delete() with the wrong id_col) — surface it.
                raise ValueError(
                    f"neurondb: ivf index at {self.path!r} has tombstones "
                    f"keyed by {tomb_col!r} but the data has no such "
                    f"column; cannot filter soft-deleted rows "
                    f"(data columns: {pruned.columns})"
                )
            pruned = pruned.join(tomb, tomb_col, "left_anti")
        d = distance(
            self.meta["vec_col"], query, self.meta["metric"],
            dim=self.meta.get("dim"), checked=False,
        )
        out = pruned.withColumn(dist_col, d)
        order = [F.col(dist_col).asc()] + [F.col(c).asc() for c in (tiebreak or [])]
        return out.orderBy(*order).limit(k)

    def search_batch(
        self,
        spark: SparkSession,
        queries,
        k: int = 10,
        nprobe: int | None = None,
        dist_col: str = "distance",
        tiebreak: list[str] | None = None,
    ) -> DataFrame:
        """Batch probe: route EVERY query to its nprobe nearest lists
        and join the (qid, cluster_id) probe pairs against the
        partitioned layout, so the whole batch shares ONE pruned scan —
        the query-routed cluster-join shape that serves many concurrent
        queries where per-query partition pruning cannot (the
        registry's `ivf_batch_knn` is the oracle-checked twin of this
        plan). ``queries`` is a list of (qid, vector) pairs or a small
        DataFrame with (qid, vector) columns — the batch side is small
        by contract and is broadcast. Returns per-query exact top-k
        within the probed lists: (qid, vec_id..., dist_col)."""
        from pyspark.sql import types as T
        from pyspark.sql.window import Window

        if isinstance(queries, DataFrame):
            qrows = [(int(r[0]), r[1]) for r in queries.collect()]
        else:
            qrows = [(int(a), v) for a, v in queries]
        qs = [(qid, [float(x) for x in vec]) for qid, vec in qrows]
        if nprobe is None:
            nprobe = int(spark.conf.get("spark.neurondb.ivf.nprobe", "10"))
        nprobe = max(1, min(int(nprobe), self.meta["nlists"]))
        probes = [
            (qid, int(c))
            for qid, q in qs for c in self._nearest_clusters(q, nprobe)
        ]
        pschema = T.StructType([
            T.StructField("qid", T.LongType()),
            T.StructField("cluster_id", T.IntegerType()),
        ])
        qschema = T.StructType([
            T.StructField("qid", T.LongType()),
            T.StructField("_qvec", T.ArrayType(T.DoubleType())),
        ])
        pdf = spark.createDataFrame(probes, schema=pschema)
        qdf = spark.createDataFrame(qs, schema=qschema)
        df = self._read_data(spark)
        cands = df.join(F.broadcast(pdf), "cluster_id").join(
            F.broadcast(qdf), "qid"
        )
        tomb = self._tombstones(spark)
        if tomb is not None:
            tomb_col = tomb.columns[0]
            if tomb_col not in df.columns:
                raise ValueError(
                    f"neurondb: ivf index at {self.path!r} has tombstones "
                    f"keyed by {tomb_col!r} but the data has no such column"
                )
            cands = cands.join(tomb, tomb_col, "left_anti")
        d = distance(
            self.meta["vec_col"], "_qvec", self.meta["metric"],
            dim=self.meta.get("dim"), checked=False,
        )
        w = Window.partitionBy("qid").orderBy(
            F.col(dist_col).asc(), *[F.col(c).asc() for c in (tiebreak or [])]
        )
        out = cands.withColumn(dist_col, d).drop("_qvec")
        return (
            out.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= int(k))
            .drop("_rn")
        )

    # --------------------------------------------------------------- DML

    def _layout_fields(self, spark: SparkSession, part_col: str) -> dict:
        """Layout schema (name → dataType) minus the partition column,
        from the meta cache when present — zero jobs, zero file listings;
        a legacy index without the cache pays one footer read."""
        from pyspark.sql import types as T

        sj = self.meta.get("data_schema")
        if sj:
            st = T.StructType.fromJson(json.loads(sj))
        else:
            st = spark.read.parquet(os.path.join(self.path, "data")).schema
        return {f.name: f.dataType for f in st.fields if f.name != part_col}

    def insert(self, df_new: DataFrame, n_new: int | None = None) -> "IVFIndex":
        """Incremental insert (ivf_am.c aminsert: assign to the nearest
        list, append): new rows are routed with the SAME vec_route
        expression the build uses and appended to their cluster
        partitions. Append-only — no existing file is rewritten, and the
        shuffle is one partitioned write of just the new rows (the
        natural 100 TB ingest shape). Centroids are NOT refit, matching
        the reference (lists drift until a rebuild/rebalance).

        ``total_rows`` (which only feeds the routing cost model) is
        maintained INCREMENTALLY (r9 verdict #3 — the old full
        ``count()`` per call was an O(#files) layout listing on every
        CDC micro-batch) and reconciled exactly by ``vacuum()`` /
        ``compact()``. Pass ``n_new`` when the caller already knows the
        batch size (the CDC drain does) and the insert plans exactly ONE
        job — the routed append; otherwise one extra O(batch) count job
        runs, never touching the layout. (An Observation on the write
        would be single-pass, but a registered Observation lingers in
        the session's ObservationManager and poisons later MLlib closure
        serialization — Spark 4.1's LR training summary drags the
        session into task closures. Explicit counting is leak-free.)
        Schema is validated against the meta-cached layout schema."""
        from neurondb_spark.operators.knn import vec_route

        spark = df_new.sparkSession
        want = self._layout_fields(spark, "cluster_id")
        have = {f.name: f.dataType for f in df_new.schema.fields}
        if have != want:
            # Appending a differently-shaped frame writes mixed-schema
            # parquet — later reads silently drop or null columns
            # depending on which footer Spark samples. Refuse instead.
            raise ValueError(
                "neurondb: ivf insert schema mismatch — index data has "
                f"{sorted((n, d.simpleString()) for n, d in want.items())} "
                f"but df_new has "
                f"{sorted((n, d.simpleString()) for n, d in have.items())}"
            )
        if n_new is None:
            n_new = df_new.count()  # O(batch), never the layout
        assigned = vec_route(
            df_new, self.meta["vec_col"], self.centroids,
            metric=self.meta["metric"], dim=self.meta.get("dim"),
            out_col="cluster_id",
        )
        assigned.write.mode("append").partitionBy("cluster_id").parquet(
            os.path.join(self.path, "data")
        )
        prior = self.meta.get("total_rows")
        if prior is None:  # legacy meta without the counter: seed it once
            self.meta["total_rows"] = footer_rows(os.path.join(self.path, "data"))
        else:
            self.meta["total_rows"] = int(prior) + int(n_new)
        atomic_write_json(
            os.path.join(self.path, "meta.json"),
            {"meta": self.meta, "centroids": self.centroids},
        )
        return self

    def delete(self, spark: SparkSession, ids, id_col: str = "vec_id") -> None:
        """Soft delete: tombstone ids; search anti-joins them out (the
        reference leaves dead tuples in the lists until VACUUM).

        ``ids`` is a Python sequence OR a DataFrame of ids — the
        DataFrame form stays distributed end to end (a mass-delete CDC
        batch or GDPR purge never serializes ids through the driver;
        reference analog: bulkdelete is an AM page operation,
        NeuronDB/src/index/hnsw_am.c). The tombstone key column is
        persisted in meta on the first delete; later deletes with a
        DIFFERENT id_col raise rather than producing a mixed-key
        tombstone set search can't apply."""
        from neurondb_spark.data_management import as_tombstone_frame

        recorded = self.meta.get("tombstone_id_col")
        if recorded is not None and recorded != id_col:
            raise ValueError(
                f"neurondb: ivf index at {self.path!r} already has "
                f"tombstones keyed by {recorded!r}; cannot delete by "
                f"{id_col!r} (vacuum first, or use the recorded column)"
            )
        as_tombstone_frame(spark, ids, id_col).write.mode(
            "append"
        ).parquet(os.path.join(self.path, "tombstones"))
        if recorded is None:
            self.meta["tombstone_id_col"] = id_col
            atomic_write_json(
                os.path.join(self.path, "meta.json"),
                {"meta": self.meta, "centroids": self.centroids},
            )

    def _tombstones(self, spark: SparkSession) -> DataFrame | None:
        """Tombstone set keyed by the column recorded at delete time
        (meta['tombstone_id_col']; 'vec_id' for pre-recording indexes)."""
        return read_tombstones(
            spark, os.path.join(self.path, "tombstones"),
            self.meta.get("tombstone_id_col", "vec_id"), "ivf",
        )

    def vacuum(self, spark: SparkSession, id_col: str | None = None) -> "IVFIndex":
        """VACUUM analog: rewrite the lists without tombstoned rows (the
        partitioned layout is preserved; centroids unchanged). The
        tombstone key column comes from meta (recorded at delete time);
        an explicit ``id_col`` that disagrees raises.

        Committed through the SHARED journaled protocol
        (data_management.dml_commit, r9 verdict #6): the live rows and
        the fully-computed new meta (exact ``total_rows`` reconcile —
        this is where incremental insert bookkeeping squares up) are
        staged, then ONE atomic journal rename swaps them in and clears
        tombstones; a crash at any point is repaired by ``load()``."""
        tomb = self._tombstones(spark)
        if tomb is None:
            return self
        recorded = self.meta.get("tombstone_id_col", "vec_id")
        if id_col is not None and id_col != recorded:
            raise ValueError(
                f"neurondb: vacuum id_col={id_col!r} disagrees with the "
                f"tombstone key recorded at delete time ({recorded!r})"
            )
        id_col = recorded
        live = self._read_data(spark).join(tomb, id_col, "left_anti")
        tmp = os.path.join(self.path, "data_tmp")
        live.write.mode("overwrite").partitionBy("cluster_id").parquet(tmp)
        staged = dict(self.meta)
        staged.pop("tombstone_id_col", None)  # set fully applied
        staged["total_rows"] = footer_rows(tmp)
        dml_commit(
            self.path, {"meta": staged, "centroids": self.centroids},
            tombstones="clear",
        )
        self.meta = staged
        return self

    def compact(self, spark: SparkSession) -> "IVFIndex":
        """Merge each list's small files into one (streaming-CDC ingest
        appends one file per micro-batch per touched list — a
        long-running drain degrades the probe scan into file listing).
        Rows, partition values, tombstones and centroids are unchanged;
        only file counts drop. The layout is rewritten repartitioned by
        ``cluster_id`` (each list's rows land in one task, so one file
        per list dir) into ``data_tmp`` and committed through
        :func:`~neurondb_spark.data_management.dml_commit` with the
        staged meta, whose ``total_rows`` is the exact footer count of
        the compacted layout (the maintenance-path square-up for
        incremental insert bookkeeping); a crash mid-commit is finished
        by ``load()``."""
        tmp = os.path.join(self.path, "data_tmp")
        self._read_data(spark).repartition(F.col("cluster_id")).write.mode(
            "overwrite"
        ).partitionBy("cluster_id").parquet(tmp)
        staged = dict(self.meta)
        staged["total_rows"] = footer_rows(tmp)
        dml_commit(
            self.path, {"meta": staged, "centroids": self.centroids},
            tombstones="keep",
        )
        self.meta = staged
        return self

    def rebalance(
        self,
        spark: SparkSession,
        max_list_size: int,
        id_col: str = "vec_id",
        lloyd_iters: int = 2,
    ) -> "IVFIndex":
        """rebalance_index analog (src/util/data_management.c:38-686,
        and ivf_am.c's 'lists drift until a rebuild' caveat): split every
        list larger than ``max_list_size`` into two sub-lists with the
        deterministic fixed-Lloyd trainer (k=2 on the list's own rows);
        sub-centroid A replaces the parent centroid, sub-centroid B is
        appended, so nearest-centroid probe routing keeps working over
        the updated centroid list. Recall is unchanged at full probe
        (same rows, finer partitions) and IMPROVES per-probe-cost for
        partial probes (smaller lists ≈ tighter regions).

        PARTITION-SCOPED commit: only the split lists' rows are written,
        into ``data_tmp/cluster_id={parent,new}``, and committed through
        :func:`~neurondb_spark.data_management.dml_commit` with
        ``partitions=("cluster_id", parents + new ids)`` and the new meta
        (centroid list and ``nlists``). The roll-forward replaces the
        parent dirs, adds the new ones and writes meta; a crash BEFORE
        the journal leaves the index byte-identical, a crash AFTER it is
        finished by ``load()``. Untouched ``cluster_id=`` directories
        are never opened, rewritten, or even listed (pytest asserts
        byte-identity across a rebalance). On object storage, back the
        renames with a table format's commit protocol (Delta/Iceberg —
        see README)."""
        from neurondb_spark.ml.stats import kmeans_lloyd_exact

        df = self._read_data(spark)
        if id_col not in df.columns:
            raise ValueError(
                f"neurondb: rebalance needs id column {id_col!r} in the "
                f"index data (have {df.columns})"
            )
        sizes = {
            r["cluster_id"]: r["n"]
            for r in df.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        oversized = sorted(
            cid for cid, n in sizes.items() if n > max_list_size
        )
        if not oversized:
            return self
        new_centroids = [list(c) for c in self.centroids]
        relabeled = []
        moved: list[int] = []
        vec_col = self.meta["vec_col"]
        for cid in oversized:
            sub = df.where(F.col("cluster_id") == cid)
            assign, cent = kmeans_lloyd_exact(
                sub, vec_col, id_col, k=2, iters=lloyd_iters,
                return_centroids=True,
            )
            dim = len(new_centroids[cid])
            cents = [[0.0] * dim, [0.0] * dim]
            seen = set()
            for r in cent.collect():
                cents[r["cluster"]][r["pos"] - 1] = float(r["cval"])
                seen.add(int(r["cluster"]))
            if seen != {0, 1}:  # degenerate list (all rows identical):
                continue        # splitting can't help — leave it alone
            new_id = len(new_centroids)
            moved += [int(cid), int(new_id)]
            new_centroids[cid] = cents[0]
            new_centroids.append(cents[1])
            relabeled.append(
                sub.drop("cluster_id").join(assign, id_col).withColumn(
                    "cluster_id",
                    F.when(F.col("cluster") == 0, F.lit(int(cid)))
                    .otherwise(F.lit(int(new_id))),
                ).drop("cluster")
            )
        if not moved:
            return self
        # Stage ONLY the split lists' rows — the write's partition dirs
        # are exactly {parent, new} per split; no other list is touched.
        cols = df.columns
        out = relabeled[0].select(*cols)
        for part in relabeled[1:]:
            out = out.unionByName(part.select(*cols))
        tmp = os.path.join(self.path, "data_tmp")
        out.write.mode("overwrite").partitionBy("cluster_id").parquet(tmp)
        # total_rows is invariant under a split — no recount scan.
        staged = dict(self.meta)
        staged["nlists"] = len(new_centroids)
        dml_commit(
            self.path, {"meta": staged, "centroids": new_centroids},
            tombstones="keep", partitions=("cluster_id", moved),
        )
        self.meta, self.centroids = staged, new_centroids
        return self

    def statistics(self, spark: SparkSession) -> dict:
        """index_statistics analog (neurondb--1.0.sql:2611-2693): rows per
        list, imbalance factor."""
        df = spark.read.parquet(os.path.join(self.path, "data"))
        sizes = (
            df.groupBy("cluster_id").count().select("cluster_id", "count").collect()
        )
        counts = [r["count"] for r in sizes]
        n = sum(counts)
        return {
            "nlists": self.meta["nlists"],
            "populated_lists": len(counts),
            "total_rows": n,
            "avg_list_size": n / max(len(counts), 1),
            "max_list_size": max(counts) if counts else 0,
            "imbalance": (max(counts) * len(counts) / n) if n else 0.0,
        }
